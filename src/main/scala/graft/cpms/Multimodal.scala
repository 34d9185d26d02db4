package graft.cpms

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads + typed metadata, with decode / feature-extraction / resize /
  * frame-sampling as partition-parallel transforms.
  *
  * The decode step dispatches on payload magic bytes: uncompressed 24-bit
  * BMP, binary PPM (P6), 8-bit RGB/RGBA PNG, and 16-bit PCM RIFF/WAVE
  * payloads go through a REAL pure-JVM codec
  * ([[decodeBmp]]/[[decodePpm]]/[[decodePng]]/[[decodeWav]] — header
  * parse + full pixel/sample scan into content features); JPEG — the
  * dominant web-image format — decodes through the JDK's built-in
  * `javax.imageio` reader ([[decodeJpeg]], still zero external
  * libraries); any other format falls back to the documented STUB
  * ([[fakeDecode]], deterministic fake features from the payload bytes)
  * because this environment ships no further image/audio libraries. Everything around the codec — the asset schema, the batched
  * mapPartitions plumbing, partitioning, and output shapes — is the real
  * production path; adding a JNI/ffmpeg/etc. branch next to the BMP/PPM
  * ones changes no plan shape.
  */
object Multimodal {

  /** Asset table schema: one row per media object. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("n_bytes", LongType))))))

  /** Build an asset table from `documents` (text bytes standing in for
    * media payloads — deterministic, schema-faithful).
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
                 (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      to_binary(col("text"), lit("utf-8")).as("content"),
      struct(col("source"),
             octet_length(col("text")).cast("long").as("n_bytes")).as("meta"))

  /** Decoded-asset schema produced by the (stub) decoder. `dhash` is the
    * 64-bit perceptual difference-hash the near-dup operators band on
    * (real codecs only; null for stub decodes): images hash luma
    * GRADIENTS over an 8x9 cell grid, audio hashes energy DELTAS over 65
    * time windows — both invariant to the uniform-shift transforms
    * (brightness, volume) a re-encode applies.
    */
  val decodedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("feature", ArrayType(FloatType, containsNull = false)),
    StructField("dhash", LongType, nullable = true)))

  /** STUB decode: deterministic pseudo-decode of a payload. A real
    * implementation calls the codec here — per partition, batched — and
    * nothing else in the pipeline changes.
    */
  private[cpms] def fakeDecode(assetId: Long, kind: String, content: Array[Byte]): Row = {
    var h = 1125899906842597L
    var i = 0
    while (i < content.length) { h = 31 * h + (content(i) & 0xff); i += 1 }
    val width  = 64 + math.floorMod(h, 1024).toInt
    val height = 64 + math.floorMod(h >>> 17, 1024).toInt
    val frames = if (kind == "video") 1 + math.floorMod(h >>> 29, 240).toInt else 1
    val feat = Array.tabulate(8) { j =>
      (math.floorMod(graft.functions.TextHashes.mix64(h + j), 2000) / 1000.0f) - 1.0f
    }
    Row(assetId, kind, width, height, frames, feat.toSeq, null)
  }

  /** 8-float feature vector from decoded RGB pixels: channel means, luma
    * mean/std (all /255), squareness, and the dimension shares — real
    * content-derived features with a fixed, schema-stable width.
    */
  private def pixelFeatures(w: Int, h: Int,
                            sumR: Long, sumG: Long, sumB: Long,
                            sumLuma: Double, sumLuma2: Double): Array[Float] = {
    val n = w.toLong * h
    val mR = sumR.toDouble / n
    val mG = sumG.toDouble / n
    val mB = sumB.toDouble / n
    val mL = sumLuma / n
    val varL = math.max(0.0, sumLuma2 / n - mL * mL)
    Array((mR / 255.0).toFloat, (mG / 255.0).toFloat, (mB / 255.0).toFloat,
          (mL / 255.0).toFloat, (math.sqrt(varL) / 255.0).toFloat,
          (math.min(w, h).toDouble / math.max(w, h)).toFloat,
          (w.toDouble / (w + h)).toFloat, (h.toDouble / (w + h)).toFloat)
  }

  private def luma(r: Int, g: Int, b: Int): Double =
    0.299 * r + 0.587 * g + 0.114 * b

  /** dHash grid geometry: 8 rows x 9 cols of mean luma, 64 horizontal-
    * gradient bits. Gradients are invariant to uniform brightness/
    * contrast shifts and to the pixel-exact re-encodes (PPM<->BMP<->PNG)
    * a crawl dedup actually meets, which is why dHash is the standard
    * crawl-scale perceptual fingerprint.
    */
  private val DhRows = 8
  private val DhCols = 9

  /** Audio dHash geometry: 65 equal time windows -> 64 energy-delta sign
    * bits (the temporal analogue of the image gradient grid).
    */
  private val AudioDhWindows = 64

  /** Shared per-pixel accumulator for the image codecs: channel/luma
    * feature sums plus the dHash cell grid, one `add` per pixel inside
    * each codec's existing scan loop (no second pass over pixels).
    */
  private final class PixelAcc(w: Int, h: Int) {
    private var sumR = 0L; private var sumG = 0L; private var sumB = 0L
    private var sumL = 0.0; private var sumL2 = 0.0
    private val cellSum = new Array[Double](DhRows * DhCols)
    private val cellCnt = new Array[Long](DhRows * DhCols)
    def add(x: Int, y: Int, r: Int, g: Int, b: Int): Unit = {
      sumR += r; sumG += g; sumB += b
      val l = luma(r, g, b)
      sumL += l; sumL2 += l * l
      // Long products: w,h can be near 2^31 on forged-but-bounded input
      val cy = ((y.toLong * DhRows) / h).toInt
      val cx = ((x.toLong * DhCols) / w).toInt
      val c = cy * DhCols + cx
      cellSum(c) += l; cellCnt(c) += 1
    }
    /** 64-bit difference hash: bit r*8+c set iff cell (r, c+1) is
      * brighter than cell (r, c). Cells an image smaller than the grid
      * never touches read as luma 0.
      */
    def dhash: Long = {
      var bits = 0L
      var r = 0
      while (r < DhRows) {
        var c = 0
        while (c < DhCols - 1) {
          val a = if (cellCnt(r * DhCols + c) == 0) 0.0
                  else cellSum(r * DhCols + c) / cellCnt(r * DhCols + c)
          val b = if (cellCnt(r * DhCols + c + 1) == 0) 0.0
                  else cellSum(r * DhCols + c + 1) / cellCnt(r * DhCols + c + 1)
          if (b > a) bits |= 1L << (r * (DhCols - 1) + c)
          c += 1
        }
        r += 1
      }
      bits
    }
    def features: Array[Float] =
      pixelFeatures(w, h, sumR, sumG, sumB, sumL, sumL2)
  }

  /** REAL codec: uncompressed 24-bit bottom-up-or-top-down BMP
    * (BITMAPINFOHEADER). Parses the header for dimensions and scans every
    * pixel (BGR byte order, rows padded to 4 bytes) for the feature
    * vector. Returns None when the payload is not a BMP this codec
    * handles (wrong magic/bpp/compression or truncated pixel data).
    */
  private[cpms] def decodeBmp(assetId: Long, content: Array[Byte]): Option[Row] = {
    def u16(i: Int) = (content(i) & 0xff) | ((content(i + 1) & 0xff) << 8)
    def i32(i: Int) = (content(i) & 0xff) | ((content(i + 1) & 0xff) << 8) |
      ((content(i + 2) & 0xff) << 16) | ((content(i + 3) & 0xff) << 24)
    if (content.length < 54 || content(0) != 'B' || content(1) != 'M') return None
    val pixOff = i32(10)
    val w = i32(18)
    val hRaw = i32(22)
    if (hRaw == Int.MinValue) return None // abs() would stay negative
    val h = math.abs(hRaw)
    val bpp = u16(28)
    val compression = i32(30)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0) return None
    // stride in Long: w near 2^31/3 overflows the Int product, which would
    // make rowBytes negative and slip past the bounds check below
    val rowBytesL = ((w.toLong * 3 + 3) / 4) * 4
    if (pixOff < 54) return None
    // reject BEFORE multiplying: rowBytesL * h overflows Long for forged
    // w,h both near 2^31, and a negative product would slip past the
    // bounds check below (h >= 1 and rowBytesL >= 4 here, so the
    // division is safe)
    if (h > (Long.MaxValue - pixOff) / rowBytesL) return None
    if (pixOff.toLong + rowBytesL * h > content.length) return None
    val rowBytes = rowBytesL.toInt // <= content.length after the check above
    val acc = new PixelAcc(w, h)
    var y = 0
    while (y < h) {
      // negative height = top-down row order; positive = bottom-up
      val row = pixOff + (if (hRaw < 0) y else h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        val b = content(row + x * 3) & 0xff
        val g = content(row + x * 3 + 1) & 0xff
        val r = content(row + x * 3 + 2) & 0xff
        acc.add(x, y, r, g, b)
        x += 1
      }
      y += 1
    }
    Some(Row(assetId, "image", w, h, 1, acc.features.toSeq, acc.dhash))
  }

  /** REAL codec: binary PPM (P6, maxval <= 255). Parses the ASCII header
    * (with # comments) and scans the RGB triples. None when not a P6 this
    * codec handles.
    */
  private[cpms] def decodePpm(assetId: Long, content: Array[Byte]): Option[Row] = {
    if (content.length < 2 || content(0) != 'P' || content(1) != '6') return None
    var i = 2
    def skipSpace(): Unit = {
      var more = true
      while (more && i < content.length) {
        val c = content(i).toChar
        if (c.isWhitespace) i += 1
        else if (c == '#') { while (i < content.length && content(i) != '\n') i += 1 }
        else more = false
      }
    }
    def int(): Int = {
      skipSpace()
      var v = 0L
      var any = false
      while (i < content.length && content(i).toChar.isDigit) {
        v = math.min(v * 10 + (content(i) - '0'), 1L << 30); i += 1; any = true
      }
      if (any) v.toInt else -1
    }
    val w = int(); val h = int(); val maxval = int()
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
    // exactly one whitespace after maxval, then binary data — but tolerate
    // the \r\n some Windows writers emit; anything else is not a P6 header
    if (i >= content.length || !content(i).toChar.isWhitespace) return None
    if (content(i) == '\r' && i + 1 < content.length && content(i + 1) == '\n') i += 2
    else i += 1
    if (i + 3L * w * h > content.length) return None
    val acc = new PixelAcc(w, h)
    var p = 0
    val n = w * h
    while (p < n) {
      val r = content(i + p * 3) & 0xff
      val g = content(i + p * 3 + 1) & 0xff
      val b = content(i + p * 3 + 2) & 0xff
      acc.add(p % w, p / w, r, g, b)
      p += 1
    }
    Some(Row(assetId, "image", w, h, 1, acc.features.toSeq, acc.dhash))
  }

  /** REAL codec: PNG, 8-bit truecolor RGB (type 2) or RGBA (type 6),
    * non-interlaced — the shape virtually all web/crawl PNGs take. Pure
    * JVM: signature + IHDR parse, IDAT concatenation through
    * `java.util.zip.Inflater` (PNG's zlib stream), then the standard
    * per-row unfilter (None/Sub/Up/Average/Paeth) feeding the same
    * pixel-feature accumulator as BMP/PPM (alpha ignored in features).
    * None when the payload is not a PNG this codec handles — bad magic,
    * palette/gray/16-bit/interlaced, forged dimensions (decompressed
    * size is bounded BEFORE allocation), truncated chunks or a short
    * zlib stream.
    */
  private[cpms] def decodePng(assetId: Long, content: Array[Byte]): Option[Row] = {
    // 8-byte signature + IHDR(25) + at least an empty IDAT(12)
    if (content.length < 45) return None
    val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
    var si = 0
    while (si < 8) {
      if ((content(si) & 0xff) != sig(si)) return None
      si += 1
    }
    def u32(p: Int): Long =
      ((content(p) & 0xffL) << 24) | ((content(p + 1) & 0xffL) << 16) |
        ((content(p + 2) & 0xffL) << 8) | (content(p + 3) & 0xffL)
    // IHDR must be the first chunk, length exactly 13
    if (u32(8) != 13L || content(12) != 'I' || content(13) != 'H' ||
        content(14) != 'D' || content(15) != 'R') return None
    val w = u32(16)
    val h = u32(20)
    val bitDepth = content(24) & 0xff
    val colorType = content(25) & 0xff
    if (content(26) != 0 || content(27) != 0 || content(28) != 0) return None
    if (w <= 0 || h <= 0 || bitDepth != 8) return None
    val bpp = colorType match {
      case 2 => 3 // RGB
      case 6 => 4 // RGBA
      case _ => return None
    }
    // forged-dimension guard: bound the decompressed size (h rows of
    // 1 filter byte + w*bpp samples) BEFORE any allocation — all in Long
    val rawLen = h * (w * bpp + 1L)
    if (rawLen > (1L << 28)) return None // 256 MiB cap
    // walk chunks, concatenating the IDAT zlib stream
    val idat = new java.io.ByteArrayOutputStream()
    var p = 33
    var ended = false
    while (!ended && p + 8 <= content.length) {
      val len = u32(p)
      // truncated chunk (len + 4-byte CRC past the payload) is a forgery
      if (len > content.length.toLong - p - 12) return None
      val typ = new String(content, p + 4, 4, "US-ASCII")
      if (typ == "IDAT") idat.write(content, p + 8, len.toInt)
      else if (typ == "IEND") ended = true
      p += 12 + len.toInt
    }
    if (!ended || idat.size() == 0) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inflater = new java.util.zip.Inflater()
    try {
      inflater.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          return None // short/garbled zlib stream
        off += n
      }
      if (off < raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inflater.end()
    // per-row unfilter + feature accumulation (cur/prev in Int 0..255)
    val wi = w.toInt
    val hi = h.toInt
    val stride = wi * bpp
    var prev = new Array[Int](stride)
    var cur = new Array[Int](stride)
    val acc = new PixelAcc(wi, hi)
    var y = 0
    while (y < hi) {
      val rowOff = y * (stride + 1)
      val ft = raw(rowOff) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < stride) {
        val rb = raw(rowOff + 1 + x) & 0xff
        val a = if (x >= bpp) cur(x - bpp) else 0
        val b = if (y > 0) prev(x) else 0
        val v = ft match {
          case 0 => rb
          case 1 => (rb + a) & 0xff
          case 2 => (rb + b) & 0xff
          case 3 => (rb + ((a + b) >> 1)) & 0xff
          case _ => // Paeth
            val c = if (x >= bpp && y > 0) prev(x - bpp) else 0
            val pp = a + b - c
            val pa = math.abs(pp - a)
            val pb = math.abs(pp - b)
            val pc = math.abs(pp - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (rb + pred) & 0xff
        }
        cur(x) = v
        x += 1
      }
      var px = 0
      while (px < wi) {
        val r = cur(px * bpp)
        val g = cur(px * bpp + 1)
        val bl = cur(px * bpp + 2)
        acc.add(px, y, r, g, bl)
        px += 1
      }
      val t = prev; prev = cur; cur = t
      y += 1
    }
    Some(Row(assetId, "image", wi, hi, 1, acc.features.toSeq, acc.dhash))
  }

  /** REAL audio codec: RIFF/WAVE, 16-bit PCM (the interchange format a
    * crawl actually yields uncompressed audio in). Parses the fmt chunk
    * for geometry, scans every sample for content features, and fills the
    * decoded schema per-kind: width = sample rate (Hz), height =
    * channels, n_frames = sample-frame count, feature = [rms, peak,
    * zero-crossing rate, mean (DC offset), duration_sec/60 clipped,
    * channels/2, reserved 0, reserved 0] — all normalized to [-1, 1].
    * Returns None (→ stub) on wrong magic, non-PCM encodings, bit depths
    * other than 16, or any declared chunk size that runs past the
    * payload (forged-header guard in Long arithmetic, like the image
    * codecs).
    */
  private[cpms] def decodeWav(assetId: Long, content: Array[Byte]): Option[Row] = {
    if (content.length < 44) return None
    def tag(p: Int, s: String): Boolean =
      s.indices.forall(i => (content(p + i) & 0xff) == s.charAt(i).toInt)
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return None
    def u32(p: Int): Long =
      (content(p) & 0xffL) | ((content(p + 1) & 0xffL) << 8) |
        ((content(p + 2) & 0xffL) << 16) | ((content(p + 3) & 0xffL) << 24)
    def u16(p: Int): Int = (content(p) & 0xff) | ((content(p + 1) & 0xff) << 8)
    // chunk walk: need one fmt and one data chunk, sizes in-bounds. Keep
    // walking past 'data' until 'fmt ' is also seen — RIFF does not
    // order chunks, and a legal fmt-after-data WAV must not fall back to
    // the stub (the first 'data'/'fmt ' of each wins).
    var p = 12
    var sampleRate = 0L; var channels = 0; var bits = 0; var fmtSeen = false
    var dataOff = -1; var dataLen = 0L
    while (p + 8 <= content.length && (dataOff < 0 || !fmtSeen)) {
      val len = u32(p + 4)
      if (len > content.length.toLong - p - 8) return None // forged size
      if (tag(p, "fmt ") && !fmtSeen) {
        if (len < 16) return None
        if (u16(p + 8) != 1) return None // PCM only
        channels = u16(p + 10)
        sampleRate = u32(p + 12)
        bits = u16(p + 22)
        fmtSeen = true
      } else if (tag(p, "data") && dataOff < 0) { dataOff = p + 8; dataLen = len }
      p += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    if (!fmtSeen || dataOff < 0) return None
    if (channels < 1 || channels > 8 || bits != 16 ||
        sampleRate < 1 || sampleRate > 384000) return None
    val bytesPerFrame = channels * 2L
    if (dataLen < bytesPerFrame || dataLen % bytesPerFrame != 0) return None
    val nFrames = dataLen / bytesPerFrame
    if (nFrames > Int.MaxValue) return None
    // one pass over the samples (channel-averaged per frame). Alongside
    // the scalar features, accumulate per-window energies for the audio
    // dHash: 65 equal time windows -> 64 energy-DELTA sign bits. Energy
    // ratios are invariant to uniform gain, so a volume-normalized or
    // amplitude-scaled re-encode keeps its fingerprint — the audio
    // analogue of the image dHash's brightness invariance.
    val eWin = new Array[Double](AudioDhWindows + 1)
    var sum = 0.0; var sum2 = 0.0; var peak = 0.0
    var crossings = 0L; var lastSign = 0
    var i = 0L
    while (i < nFrames) {
      var acc = 0.0
      var c = 0
      while (c < channels) {
        val off = dataOff + (i * bytesPerFrame).toInt + c * 2
        val s = ((content(off) & 0xff) | (content(off + 1) << 8)).toShort
        acc += s / 32768.0
        c += 1
      }
      val v = acc / channels
      sum += v; sum2 += v * v
      eWin(((i * (AudioDhWindows + 1)) / nFrames).toInt) += v * v
      val a = math.abs(v)
      if (a > peak) peak = a
      val sign = if (v > 0) 1 else if (v < 0) -1 else lastSign
      if (sign != 0 && lastSign != 0 && sign != lastSign) crossings += 1
      if (sign != 0) lastSign = sign
      i += 1
    }
    var dh = 0L
    var w = 0
    while (w < AudioDhWindows) {
      if (eWin(w + 1) > eWin(w)) dh |= 1L << w
      w += 1
    }
    val mean = sum / nFrames
    val rms = math.sqrt(math.max(0.0, sum2 / nFrames))
    val zcr = crossings.toDouble / math.max(1L, nFrames - 1)
    val durSec = nFrames.toDouble / sampleRate
    val feat = Array(
      rms.toFloat, peak.toFloat, zcr.toFloat, mean.toFloat,
      math.min(1.0, durSec / 60.0).toFloat, (channels / 2.0f).min(1.0f),
      0.0f, 0.0f)
    Some(Row(assetId, "audio", sampleRate.toInt, channels, nFrames.toInt,
             feat.toSeq, dh))
  }

  /** Decode-size ceiling for the ImageIO path: dimensions are read from
    * the header BEFORE any pixel allocation, so a forged SOF marker
    * claiming a 65k x 65k frame is rejected for the cost of a header
    * parse — the same discipline as the BMP/PNG bound checks.
    */
  private val MaxJpegPixels = 1L << 26 // ~67 MP, beyond any sane crawl asset

  /** REAL codec: JPEG via the JDK's built-in `javax.imageio` reader —
    * baseline and progressive JFIF/EXIF decode with no external
    * library, covering the dominant web-image format the pure-JVM
    * BMP/PPM/PNG codecs leave blind. Same contract as the others:
    * magic-check first (FF D8 FF SOI), header-bounded dimensions before
    * any allocation, full decode into the shared per-pixel accumulator
    * (dHash + features ride one row-buffered scan — `getRGB` converts
    * grayscale to sRGB for free), and None on anything the reader
    * rejects (truncated entropy stream, CMYK payloads the JDK reader
    * does not handle, forged markers) so the chain falls to the stub.
    * Note the hash caveat the near-dup family must own: JPEG is LOSSY —
    * a re-encode perturbs cell lumas, so a BMP→JPEG pair lands within a
    * small dHash Hamming distance, not at exact 0 (MultimodalSpec pins
    * the tolerance; q121's banding absorbs ≤3-bit drift by pigeonhole).
    */
  private[cpms] def decodeJpeg(assetId: Long, content: Array[Byte]): Option[Row] = {
    if (content.length < 3 ||
        (content(0) & 0xFF) != 0xFF || (content(1) & 0xFF) != 0xD8 ||
        (content(2) & 0xFF) != 0xFF) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(content))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > MaxJpegPixels) return None
        val img = reader.read(0)
        val acc = new PixelAcc(w, h)
        val rowBuf = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rowBuf, 0, w)
          var x = 0
          while (x < w) {
            val p = rowBuf(x)
            acc.add(x, y, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
            x += 1
          }
          y += 1
        }
        Some(Row(assetId, "image", w, h, 1, acc.features.toSeq, acc.dhash))
      } finally reader.dispose()
    } catch {
      case _: java.io.IOException => None // truncated/forged -> stub
    } finally iis.close()
  }

  /** One payload through the codec chain: real BMP/PPM/PNG/JPEG/WAV
    * decode when the magic bytes match, else the stub. Codec exceptions
    * on forged payloads fall through to the stub rather than failing the
    * Spark task — untrusted binary is exactly what this path ingests.
    */
  private[cpms] def decodeOne(assetId: Long, kind: String, content: Array[Byte]): Row = {
    import scala.util.Try
    Try(decodeBmp(assetId, content)).toOption.flatten
      .orElse(Try(decodePpm(assetId, content)).toOption.flatten)
      .orElse(Try(decodePng(assetId, content)).toOption.flatten)
      .orElse(Try(decodeJpeg(assetId, content)).toOption.flatten)
      .orElse(Try(decodeWav(assetId, content)).toOption.flatten)
      .getOrElse(fakeDecode(assetId, kind, content))
  }

  /** Partition-parallel batch decode: the Scala analogue of a batched
    * `mapInPandas` — one iterator pass per partition, constant memory,
    * no driver involvement. Repartition upstream by size/kind when codec
    * cost is skewed.
    */
  def decode(assets: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    assets.select("asset_id", "kind", "content")
      .mapPartitions { rows =>
        rows.map { r => decodeOne(r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)) }
      }(enc)
  }

  /** "Resize": deterministic derived dimensions (stub for a real resampler,
    * expressed as codegen-friendly column math — no UDF).
    */
  def resize(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height")))
    decoded
      .withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
  }

  /** Frame sampling for videos: every k-th frame index, capped — pure
    * column math (`sequence`), exploded downstream by the consumer.
    */
  def sampleFrames(decoded: DataFrame, everyK: Int, cap: Int): DataFrame =
    decoded.withColumn("frame_idx",
      when(col("kind") === "video",
           slice(sequence(lit(0), col("n_frames") - 1, lit(everyK)), 1, cap))
        .otherwise(array(lit(0))))

  // ---------------------------------------------------------------- encoders

  /** Binary PPM (P6) encoder; `rgb` is row-major top-down r,g,b triples. */
  private[graft] def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, "rgb length mismatch")
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** Uncompressed 24-bit bottom-up BMP encoder (BITMAPINFOHEADER); `rgb`
    * is row-major top-down r,g,b triples (BMP stores BGR, rows padded to
    * 4 bytes, bottom row first).
    */
  private[graft] def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, "rgb length mismatch")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowBytes * h
    val out = new Array[Byte](size)
    def le16(p: Int, v: Int): Unit = { out(p) = v.toByte; out(p + 1) = (v >> 8).toByte }
    def le32(p: Int, v: Int): Unit = {
      out(p) = v.toByte; out(p + 1) = (v >> 8).toByte
      out(p + 2) = (v >> 16).toByte; out(p + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, size); le32(10, 54); le32(14, 40)
    le32(18, w); le32(22, h) // positive height = bottom-up
    le16(26, 1); le16(28, 24); le32(30, 0); le32(34, rowBytes * h)
    var y = 0
    while (y < h) {
      val dst = 54 + (h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        val src = (y * w + x) * 3
        out(dst + x * 3) = rgb(src + 2)     // B
        out(dst + x * 3 + 1) = rgb(src + 1) // G
        out(dst + x * 3 + 2) = rgb(src)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** 16-bit PCM RIFF/WAVE encoder (mono), samples as raw shorts. */
  private[graft] def encodeWav(sampleRate: Int,
                               samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  // -------------------------------------------------- perceptual image dedup

  /** asset_id offset for the planted re-encodes [[syntheticImageAssets]]
    * emits, far above any doc_id in the test tables.
    */
  val NearDupOffset = 1000000L

  private def polySeed(bytes: Array[Byte]): Long = {
    var hsh = 1125899906842597L
    var i = 0
    while (i < bytes.length) { hsh = 31 * hsh + (bytes(i) & 0xff); i += 1 }
    hsh
  }

  /** Deterministic image corpus derived from `documents` — REAL encoded
    * payloads (P6 bytes seeded by each doc's content hash) so the full
    * decode → dhash → band path runs on genuine codec output, plus a
    * planted near-duplicate for every `dupEvery`-th doc: the SAME pixels
    * brightness-shifted +8 and RE-ENCODED as BMP (different container,
    * different bytes, perceptually identical). Components stay <= 240 so
    * the shift never clamps — luma moves uniformly (+8 exactly, the
    * coefficients sum to 1) and every dHash gradient is preserved: the
    * planted pair is the re-encode/brightness case perceptual dedup
    * exists to catch, invisible to exact (q30) and token (q35) dedup.
    * `dupEvery <= 0` disables planting (doc 0 would otherwise match any
    * modulus — the index-build path wants a clean corpus).
    */
  def syntheticImageAssets(docs: DataFrame, dupEvery: Int = 10): DataFrame = {
    val enc = RowEncoder.encoderFor(assetSchema)
    val w = 24; val h = 16
    docs.select("doc_id", "text", "source").mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        val seed = polySeed(r.getString(1).getBytes("UTF-8"))
        val base = new Array[Byte](3 * w * h)
        val shifted = new Array[Byte](3 * w * h)
        var p = 0
        while (p < w * h) {
          val v = graft.functions.TextHashes.mix64(seed + p)
          var c = 0
          while (c < 3) {
            val raw = ((v >>> (8 * c)) & 0xff).toInt
            val comp = raw - (raw >> 4) // 0..240: headroom for +8, no clamp
            base(p * 3 + c) = comp.toByte
            shifted(p * 3 + c) = (comp + 8).toByte
            c += 1
          }
          p += 1
        }
        val src = r.getString(2)
        val ppm = encodePpm(w, h, base)
        val main = Row(docId, "image", ppm,
                       Row(src, ppm.length.toLong))
        if (dupEvery > 0 && docId % dupEvery == 0) {
          val bmp = encodeBmp(w, h, shifted)
          main :: Row(docId + NearDupOffset, "image", bmp,
                      Row(src, bmp.length.toLong)) :: Nil
        } else main :: Nil
      }
    }(enc)
  }

  /** dHash pigeonhole band geometry: 4 chunks x 16 bits — exact for
    * Hamming radius <= 3 (a pair within 3 differs in at most 3 chunks,
    * so it shares >= 1 verbatim).
    */
  val DhashChunks = 4
  val DhashChunkBits = 16

  /** Band projection of decoded asset dhashes of one `kind`: one
    * (asset_id, dhash, chunk, ckey) row per 16-bit chunk — the shared
    * candidate-generation shape of the batch self-joins, the index
    * build, and the stream probe. Modalities never cross-band: an image
    * gradient hash and an audio energy hash colliding numerically would
    * be a false pair.
    */
  private def dhashBands(decoded: DataFrame, kind: String): DataFrame =
    decoded
      .filter(col("kind") === kind && col("dhash").isNotNull)
      .select(
        col("asset_id"), col("dhash"),
        explode(transform(sequence(lit(0), lit(DhashChunks - 1)), i =>
          struct(i.as("chunk"),
                 call_function("shiftright", col("dhash"), i * DhashChunkBits)
                   .bitwiseAND(lit((1L << DhashChunkBits) - 1)).as("ckey"))))
          .as("cc"))
      .select(col("asset_id"), col("dhash"),
              col("cc.chunk").as("chunk"), col("cc.ckey").as("ckey"))

  /** Deterministic audio corpus derived from `documents`: per doc, a
    * mono 16-bit PCM WAV of a two-sine mixture whose frequencies,
    * amplitudes, and envelope derive from the content hash (real encoded
    * payloads through the real codec), plus a planted near-duplicate for
    * every `dupEvery`-th doc — the SAME signal at HALF volume
    * (re-quantized, so bytes differ everywhere). Window-energy DELTAS
    * scale uniformly under gain, so the energy-delta fingerprint holds:
    * the volume-normalized re-encode case audio dedup exists to catch.
    */
  def syntheticAudioAssets(docs: DataFrame, dupEvery: Int = 10): DataFrame = {
    val enc = RowEncoder.encoderFor(assetSchema)
    val sr = 8000; val n = 2048
    docs.select("doc_id", "text", "source").mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        val seed = polySeed(r.getString(1).getBytes("UTF-8"))
        def h(k: Int) = graft.functions.TextHashes.mix64(seed + k)
        val f1 = 100 + math.floorMod(h(1), 1500).toInt
        val f2 = 100 + math.floorMod(h(2), 1500).toInt
        val a1 = 0.2 + math.floorMod(h(3), 1000) / 4000.0
        val a2 = 0.2 + math.floorMod(h(4), 1000) / 4000.0
        // per-window amplitude staircase (65 steps matching the
        // fingerprint windows): rich, doc-specific energy structure —
        // a smooth AM envelope alone leaves adjacent-window deltas too
        // correlated across docs and unrelated fingerprints collide
        val steps = Array.tabulate(65)(w =>
          0.3 + 0.7 * math.floorMod(h(100 + w), 1000) / 1000.0)
        // r21: synthesize the (pre-gain) signal ONCE per doc — the planted
        // half-volume dup re-QUANTIZES the same samples instead of paying
        // the two-sine synthesis a second time. v, the gain multiply, and
        // the rounding are the exact expressions of the previous
        // per-gain sample(), in the same order: bytes are bit-identical.
        val vals = new Array[Double](n)
        var i = 0
        while (i < n) {
          val t = i.toDouble / sr
          val env = steps((i * 65) / n)
          vals(i) = env * (a1 * math.sin(2 * math.Pi * f1 * t) +
                           a2 * math.sin(2 * math.Pi * f2 * t))
          i += 1
        }
        def quant(gain: Double): Array[Short] =
          Array.tabulate(n)(i => math.round(vals(i) * gain * 32767).toShort)
        val full = encodeWav(sr, quant(1.0))
        val src = r.getString(2)
        val main = Row(docId, "audio", full, Row(src, full.length.toLong))
        if (dupEvery > 0 && docId % dupEvery == 0) {
          val half = encodeWav(sr, quant(0.5))
          main :: Row(docId + NearDupOffset, "audio", half,
                      Row(src, half.length.toLong)) :: Nil
        } else main :: Nil
      }
    }(enc)
  }

  /** Perceptual image near-dup: pigeonhole banding of the 64-bit dHash
    * into 4x16-bit chunks, then exact Hamming verify — the q37 SimHash
    * machinery pointed at the decoded luma grid. EXACT for radius <= 3:
    * a pair within Hamming<=3 differs in at most 3 chunks, so it shares
    * >=1 chunk verbatim and collides in that band; bucketed self-join,
    * no cross product, only (asset_id, dhash) ever shuffles. Identical-
    * hash masses (flat images) are the exact-dup case — route them
    * through a hash groupBy first at production scale, as q30 does for
    * text.
    */
  def imageNearDup(decoded: DataFrame, maxHamming: Int = 3): DataFrame =
    hashNearDup(decoded, "image", maxHamming)

  /** Audio near-dup on the energy-delta fingerprint — same banding, same
    * exactness bound; catches volume-scaled / re-encoded duplicates of
    * the same recording (MultimodalSpec plants both).
    */
  def audioNearDup(decoded: DataFrame, maxHamming: Int = 3): DataFrame =
    hashNearDup(decoded, "audio", maxHamming)

  private def hashNearDup(decoded: DataFrame, kind: String,
                          maxHamming: Int): DataFrame = {
    import graft.functions.TextHashes.hamming64
    val chunks = dhashBands(decoded, kind)
    // both band sides are the SAME subtree; forcing the shuffle join (no
    // broadcast) makes their (chunk, ckey) exchanges canonicalize equal,
    // so AQE runs the decode -> dhash -> band pipeline ONCE and reuses
    // the exchange for the other side (ReusedExchange, pinned in
    // PlanSpec) — decode is the expensive stage and must not run twice
    chunks.as("l").hint("shuffle_merge")
      .join(chunks.as("r").hint("shuffle_merge"),
            col("l.chunk") === col("r.chunk") &&
              col("l.ckey") === col("r.ckey") &&
              col("l.asset_id") < col("r.asset_id"))
      .select(col("l.asset_id").as("id_a"), col("r.asset_id").as("id_b"),
              hamming64(col("l.dhash"), col("r.dhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Persist the image corpus's dHash band table — decoded ONCE at build
    * time, then probed by every streaming micro-batch of
    * [[imageNearDupStream]] (without it, each trigger would re-decode
    * the ENTIRE static corpus inside its own plan — the band-index
    * lesson from text dedup, TrainingData.buildBandIndex). Rows:
    * (matched_id, dhash, chunk, ckey); band geometry travels in a
    * `_dhash_geometry` sidecar landed with the table
    * ([[graft.Landing.swap]]), so probes always band with the geometry
    * the index was built with.
    */
  def buildDhashIndex(s: org.apache.spark.sql.SparkSession, assets: DataFrame,
                      indexDir: String): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      dhashBands(decode(assets), "image")
        .select(col("asset_id").as("matched_id"), col("dhash"),
                col("chunk"), col("ckey"))
        .repartition(col("chunk"), col("ckey"))
        .write.mode("overwrite").parquet(staging)
      Map("_dhash_geometry" -> s"$DhashChunks $DhashChunkBits")
    }

  private def dhashGeometry(s: org.apache.spark.sql.SparkSession,
                            indexDir: String): (Int, Int) = {
    val Array(c, b) =
      graft.Landing.required(s, indexDir, "_dhash_geometry").trim.split(" ")
    (c.toInt, b.toInt)
  }

  /** Perceptual image dedup AT INGEST — the third modality of the
    * at-ingest dedup triad (token bands: incrementalNearDup; embeddings:
    * embeddingNearDupStream; images: this). A STREAM of asset rows
    * (asset_id, kind, content) is decoded per micro-batch (stateless
    * mapPartitions — the codec boundary), dHash-banded with the
    * geometry recorded in the index sidecar, and probed stream-static
    * against the persisted band table: an arriving re-encode /
    * brightness-tweaked copy of a corpus image collides in >= 1 band
    * and verifies by exact Hamming <= maxHamming. Returns (asset_id,
    * matched_id, hamming); a pair surfaces once per colliding band
    * (bounded by DhashChunks) — sinks dedupe per micro-batch where
    * exact-once matters, as with incrementalNearDup.
    */
  def imageNearDupStream(streamAssets: DataFrame,
                         s: org.apache.spark.sql.SparkSession,
                         indexDir: String, maxHamming: Int = 3): DataFrame = {
    import graft.functions.TextHashes.hamming64
    val (chunks, bits) = dhashGeometry(s, indexDir)
    require(chunks == DhashChunks && bits == DhashChunkBits,
            s"dhash index geometry ${chunks}x$bits does not match this " +
              s"build's ${DhashChunks}x$DhashChunkBits banding")
    val corpus = s.read.parquet(indexDir)
      .select(col("matched_id"), col("dhash").as("dhash_c"),
              col("chunk"), col("ckey"))
    dhashBands(decode(streamAssets), "image")
      .join(corpus, Seq("chunk", "ckey"))
      .filter(col("asset_id") =!= col("matched_id"))
      .select(col("asset_id"), col("matched_id"),
              hamming64(col("dhash"), col("dhash_c")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
