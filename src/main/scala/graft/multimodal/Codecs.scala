package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam, ImageWriter}
import javax.imageio.metadata.IIOMetadata
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** Pure-JVM media codecs: binary PPM (P6) images and RIFF/WAVE 16-bit PCM
  * audio written here, PNG coded by the JDK's ImageIO, plus the ImageIO
  * plumbing the PNG, [[Jpeg]] and [[Gif]] codecs share. These replace
  * [[Multimodal.decodeStub]] on the formats they cover.
  *
  * Decoders fail LOUDLY on malformed input rather than returning garbage
  * — a corrupt blob in a 100 TB lake should surface in the task error,
  * not silently skew features. The PPM and WAV decoders walk the
  * container structure (PPM header tokens incl. comments; RIFF chunk list
  * incl. unknown chunks); the ImageIO-backed ones turn ImageIO's read
  * warnings and exceptions into IllegalArgumentException. All functions
  * are row-local (called from typed maps / mapPartitions); nothing here
  * touches Spark.
  */
object Codecs {

  /** True iff the blob is a binary-PPM candidate: `P6` followed by a
    * header character (whitespace or comment) — `P6` followed by
    * anything else is some other P-family or unrelated format. */
  def isPpm(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && bytes(0) == 'P' && bytes(1) == '6' &&
      (bytes(2) == ' ' || bytes(2) == '\t' || bytes(2) == '\n' ||
        bytes(2) == '\r' || bytes(2) == '#')

  /** True iff the blob is a RIFF container holding a WAVE form. RIFF
    * alone is NOT enough — WebP (`RIFF....WEBP`) and AVI (`RIFF....AVI `)
    * share the outer magic and must not be routed to the WAV decoder. */
  def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  // ---------------------------------------------------------------- PPM

  /** Encode an interleaved-RGB pixel buffer as binary PPM (P6, maxval
    * 255): `P6\n<w> <h>\n255\n` + raw bytes. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0, s"ppm: bad dimensions ${w}x$h")
    require(rgb.length == w.toLong * h * 3, // Long: no overflow pass
      s"ppm: need ${w.toLong * h * 3} bytes for ${w}x$h, got ${rgb.length}")
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** Decode binary PPM (P6). Handles the full header grammar — any
    * whitespace between tokens and `#` comment lines anywhere a
    * whitespace may appear — and requires maxval <= 255 (1 byte/sample).
    * Returns (width, height, interleaved RGB). */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "ppm: not a P6 file")
    var pos = 2
    def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    // one whitespace run, where any '#' starts a comment running to EOL
    def skipWs(): Unit = {
      var more = true
      while (more) {
        while (pos < bytes.length && isWs(bytes(pos))) pos += 1
        if (pos < bytes.length && bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else more = false
      }
    }
    def token(): Int = {
      skipWs()
      require(pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9',
        s"ppm: expected integer token at byte $pos")
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = token(); val h = token(); val maxval = token()
    require(w > 0 && h > 0, s"ppm: bad dimensions ${w}x$h")
    require(maxval > 0 && maxval <= 255, s"ppm: unsupported maxval $maxval")
    // exactly ONE whitespace byte separates maxval from raster (spec);
    // a '#' here would be raster data, not a comment
    require(pos < bytes.length && isWs(bytes(pos)),
      "ppm: missing raster separator")
    pos += 1
    // Long math: a corrupt/hostile header like 65536x65536 overflows
    // w*h*3 in Int (to 0 here — the truncation check would pass and the
    // caller would crash out-of-contract later)
    val need = w.toLong * h * 3
    require(bytes.length - pos >= need,
      s"ppm: raster truncated (need $need, have ${bytes.length - pos})")
    val px = java.util.Arrays.copyOfRange(bytes, pos, pos + need.toInt)
    (w, h, px)
  }

  /** Nearest-neighbor resize of an interleaved-RGB buffer: output pixel
    * (r,c) samples input (r*h/oh, c*w/ow) — integer floor mapping, the
    * standard NN kernel. Row-local, O(ow*oh). */
  def resizeNearest(w: Int, h: Int, rgb: Array[Byte],
                    ow: Int, oh: Int): Array[Byte] = {
    require(rgb.length == w.toLong * h * 3,
      s"resize: need ${w.toLong * h * 3} bytes for ${w}x$h, got ${rgb.length}")
    require(ow > 0 && oh > 0 && ow.toLong * oh * 3 <= Int.MaxValue,
      s"resize: bad target ${ow}x$oh")
    val out = new Array[Byte](ow * oh * 3)
    var r = 0
    while (r < oh) {
      val sr = (r.toLong * h / oh).toInt
      var c = 0
      while (c < ow) {
        val sc = (c.toLong * w / ow).toInt
        val si = (sr * w + sc) * 3
        val di = (r * ow + c) * 3
        out(di) = rgb(si); out(di + 1) = rgb(si + 1); out(di + 2) = rgb(si + 2)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Per-cell luminance mass on a gw x gh grid: cell (gr,gc) sums R+G+B
    * (unsigned) over its pixel block — integer-exact, so cross-engine
    * checkable. Pixels map to cells by floor(r*gh/h), floor(c*gw/w);
    * cells are indexed row-major. Requires the grid to divide no finer
    * than the image. */
  def gridLuminance(w: Int, h: Int, rgb: Array[Byte],
                    gw: Int, gh: Int): Array[Long] = {
    require(rgb.length == w.toLong * h * 3,
      s"grid: need ${w.toLong * h * 3} bytes for ${w}x$h, got ${rgb.length}")
    require(gw > 0 && gw <= w && gh > 0 && gh <= h,
      s"grid: ${gw}x$gh does not fit ${w}x$h")
    val acc = new Array[Long](gw * gh)
    var r = 0
    while (r < h) {
      val gr = r * gh / h
      var c = 0
      while (c < w) {
        val cell = gr * gw + c * gw / w
        val i = (r * w + c) * 3
        acc(cell) += (rgb(i) & 0xff) + (rgb(i + 1) & 0xff) + (rgb(i + 2) & 0xff)
        c += 1
      }
      r += 1
    }
    acc
  }

  // ---------------------------------------------------------------- PNG

  /** The 8-byte PNG signature (\x89PNG\r\n\x1a\n). */
  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  /** True iff the blob starts with the full 8-byte PNG signature. */
  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (0 until 8).forall(i => bytes(i) == PngSig(i))

  /** Encode an interleaved-RGB pixel buffer as a standard 8-bit
    * truecolor PNG through the JDK's ImageIO writer (which picks the
    * scanline filters itself). */
  def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    writeImage(ImageIO.getImageWritersByFormatName("png").next(),
      imageOf(w, h, rgb, "png"), null, null)

  /** Decode a PNG to (width, height, interleaved RGB) through ImageIO.
    * Every chunk CRC is verified first — ImageIO does not check them, and
    * a corrupt blob must fail its task, not skew features. Gray, palette
    * and alpha images decode to their RGB values. */
  def decodePng(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(isPng(bytes), "png: bad signature")
    val bb = java.nio.ByteBuffer.wrap(bytes, 8, bytes.length - 8)
    var typ = ""
    while (typ != "IEND") {
      require(bb.remaining() >= 12, "png: truncated chunk list")
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining() - 8,
        s"png: chunk overruns file (len $len, have ${bb.remaining() - 8})")
      typ = new String(bytes, bb.position(), 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, bb.position(), 4 + len)
      bb.position(bb.position() + 4 + len)
      require(crc.getValue.toInt == bb.getInt, s"png: bad CRC on chunk '$typ'")
    }
    val img = readImage(bytes, "png")
    (img.getWidth, img.getHeight, rgbOf(img))
  }

  // ------------------------------------------------------ ImageIO plumbing
  // Shared by the PNG, JPEG and GIF codecs. Streams are in-memory per
  // call: ImageIO.read(InputStream) would otherwise cache to temp files.

  /** ImageIO's JPEG reader drops an unreadable embedded ICC profile with
    * this warning and decodes the pixels unchanged: damaged metadata, not
    * damaged pixels (the `jpeg_exif_meta` blobs carry such a profile). */
  private val IgnoredIccWarning = "Embedded color profile is invalid; ignored"

  /** Read the first image of `bytes` with ImageIO's `format` reader.
    * ImageIO is lenient where a lake must be loud: a truncated stream
    * decodes with only read WARNINGS, so every warning but
    * [[IgnoredIccWarning]] fails here, and ImageIO's exceptions for
    * corrupt streams become IllegalArgumentException. */
  private[multimodal] def readImage(bytes: Array[Byte],
                                    format: String): BufferedImage = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val reader = ImageIO.getImageReadersByFormatName(format).next()
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    reader.addIIOReadWarningListener((_, w) => { warnings += w })
    try {
      reader.setInput(in, true, true)
      val img = reader.read(0)
      val damage = warnings.filterNot(_ == IgnoredIccWarning)
      require(damage.isEmpty, s"$format: ${damage.mkString("; ")}")
      img
    } catch { // IndexOutOfBounds: a stream with no image frame
      case e @ (_: java.io.IOException | _: IndexOutOfBoundsException) =>
        throw new IllegalArgumentException(s"$format: ${e.getMessage}", e)
    } finally {
      reader.dispose(); in.close()
    }
  }

  /** Write `img` with `writer` (disposed here) into a fresh byte array. */
  private[multimodal] def writeImage(writer: ImageWriter, img: BufferedImage,
                                     param: ImageWriteParam,
                                     meta: IIOMetadata): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, meta), param)
    } finally {
      writer.dispose(); out.close() // close flushes the cache into `bytes`
    }
    bytes.toByteArray
  }

  /** Interleaved RGB as an 8-bit three-band image. */
  private[multimodal] def imageOf(w: Int, h: Int, rgb: Array[Byte],
                                  format: String): BufferedImage = {
    require(w > 0 && h > 0 && w <= 65535 && h <= 65535,
      s"$format: bad dimensions ${w}x$h")
    require(rgb.length == w.toLong * h * 3,
      s"$format: need ${w.toLong * h * 3} bytes for ${w}x$h, got ${rgb.length}")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setPixels(0, 0, w, h, rgb.map(_ & 0xff))
    img
  }

  /** A decoded image as interleaved RGB. Gray replicates its one sample
    * (getRGB would run it through a linear-to-sRGB conversion). */
  private[multimodal] def rgbOf(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h * 3)
    val gray = img.getType == BufferedImage.TYPE_BYTE_GRAY
    val px =
      if (gray) img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
      else img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) {
      out(3 * i) = (if (gray) px(i) else px(i) >> 16).toByte
      out(3 * i + 1) = (if (gray) px(i) else px(i) >> 8).toByte
      out(3 * i + 2) = px(i).toByte
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------- WAV

  /** Encode mono 16-bit PCM as a canonical RIFF/WAVE file (44-byte
    * header + little-endian samples). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"wav: bad sample rate $sampleRate")
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits/sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** The same PCM content wrapped with a LIST(INFO) metadata chunk before
    * `data` — the "re-encoded duplicate" shape a crawl sees constantly
    * (identical audio, different tagging toolchain). Byte-level dedup
    * misses the pair; content-level dedup over the DECODED samples
    * ([[decodeWav]] skips the LIST chunk) must find it. */
  def encodeWavTagged(sampleRate: Int, samples: Array[Short],
                      comment: String): Array[Byte] = {
    require(sampleRate > 0, s"wav: bad sample rate $sampleRate")
    val c = comment.getBytes("US-ASCII")
    val icmtLen = c.length + 1 // NUL-terminated per INFO convention
    val icmtPad = icmtLen & 1
    val listLen = 4 + 8 + icmtLen + icmtPad // "INFO" + ICMT header + text
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(12 + 24 + 8 + listLen + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
      .putInt(4 + 24 + 8 + listLen + 8 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
    bb.put("LIST".getBytes("US-ASCII")).putInt(listLen)
      .put("INFO".getBytes("US-ASCII"))
      .put("ICMT".getBytes("US-ASCII")).putInt(icmtLen)
      .put(c).put(0.toByte)
    if (icmtPad == 1) bb.put(0.toByte)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Decode a RIFF/WAVE 16-bit PCM mono file by WALKING THE CHUNK LIST —
    * real WAV files carry LIST/fact/cue chunks before `data`, so the
    * decoder must skip unknown chunks (word-aligned) rather than assume
    * the canonical 44-byte layout. Returns (sampleRate, samples). */
  def decodeWav(bytes: Array[Byte]): (Int, Array[Short]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(bytes.length >= 12 && fourcc() == "RIFF", "wav: not a RIFF file")
    bb.getInt // riff payload size (unreliable in the wild; chunk walk instead)
    require(fourcc() == "WAVE", "wav: not a WAVE form")
    var sampleRate = -1
    var bitsPerSample = -1
    var channels = -1
    var samples: Array[Short] = null
    while (bb.remaining() >= 8 && samples == null) {
      val id = fourcc()
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining(),
        s"wav: chunk '$id' overruns file (len $len, have ${bb.remaining()})")
      id match {
        case "fmt " =>
          require(len >= 16, s"wav: fmt chunk too short ($len)")
          val fmt = bb.getShort
          require(fmt == 1, s"wav: only PCM supported, got format $fmt")
          channels = bb.getShort.toInt
          require(channels == 1, s"wav: only mono supported, got $channels")
          sampleRate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          bitsPerSample = bb.getShort.toInt
          require(bitsPerSample == 16,
            s"wav: only 16-bit supported, got $bitsPerSample")
          bb.position(bb.position() + (len - 16) + (len & 1)) // ext + pad
        case "data" =>
          require(sampleRate > 0, "wav: data chunk before fmt chunk")
          val n = len / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = bb.getShort; i += 1 }
          samples = out
        case _ => // LIST/fact/cue/...: skip, chunks are word-aligned
          bb.position(bb.position() + len + (len & 1))
      }
    }
    require(samples != null, "wav: no data chunk")
    (sampleRate, samples)
  }

  /** Per-window absolute-amplitude mass: samples split into `nWindows`
    * contiguous equal windows (floor split, remainder in the last),
    * each summing |sample| as Long — integer-exact cross-engine. */
  def windowAbsSum(samples: Array[Short], nWindows: Int): Array[Long] = {
    require(nWindows > 0 && nWindows <= math.max(1, samples.length),
      s"wav: $nWindows windows over ${samples.length} samples")
    val acc = new Array[Long](nWindows)
    val per = math.max(1, samples.length / nWindows)
    var i = 0
    while (i < samples.length) {
      val w = math.min(i / per, nWindows - 1)
      acc(w) += math.abs(samples(i).toLong)
      i += 1
    }
    acc
  }
}
