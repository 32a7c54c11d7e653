package graft.multimodal

import javax.imageio.{ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode

/** JFIF/JPEG: the web's dominant photographic format. The JDK's ImageIO
  * codes the pixels — baseline and progressive (SOF2) encode, and decode
  * of every stream its reader takes (baseline, progressive, any chroma
  * subsampling, grayscale). What stays hand-written is the header work a
  * media lake does without decoding: the EXIF/ICC triage walker, the
  * staging segment writer and the metadata strip.
  *
  * The encoder pins 4:4:4 sampling: ImageIO's default 4:2:0 chroma
  * costs the `jpeg_codec` PSNR floor most of its margin. JPEG is LOSSY:
  * the roundtrip contract is exact metadata (dimensions, marker grammar)
  * plus a PSNR bound on pixels. Decode is loud where ImageIO is lenient:
  * a truncated stream, which ImageIO decodes with only read warnings,
  * fails (see [[Codecs.readImage]]). Reference behavior anchor: the
  * reference pipeline treats media as opaque binary + typed metadata
  * (SURVEY §2 multimodal columns); decode here feeds the same 4x4
  * grid-luminance features as PPM/PNG.
  */
object Jpeg {

  /** SOI + at least one more marker byte — JPEG streams self-identify. */
  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff

  private val MetaFormat = "javax_imageio_jpeg_image_1.0"

  /** Encode interleaved RGB as baseline 4:4:4 JFIF. `quality` (clamped
    * to 1..100) scales the Annex K tables by the IJG formula. */
  def encode(w: Int, h: Int, rgb: Array[Byte], quality: Int = 50): Array[Byte] =
    write(w, h, rgb, quality, progressive = false)

  /** Encode interleaved RGB as PROGRESSIVE 4:4:4 JFIF (SOF2, ImageIO's
    * default scan script). Progression only reorders the quantized
    * coefficients, which equal [[encode]]'s at the same quality, so
    * decode(encodeProgressive(x)) == decode(encode(x)) pixel-for-pixel —
    * the contract `jpeg_progressive` asserts. */
  def encodeProgressive(w: Int, h: Int, rgb: Array[Byte],
                        quality: Int = 50): Array[Byte] =
    write(w, h, rgb, quality, progressive = true)

  private def write(w: Int, h: Int, rgb: Array[Byte], quality: Int,
                    progressive: Boolean): Array[Byte] = {
    val img = Codecs.imageOf(w, h, rgb, "jpeg")
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(math.max(1, math.min(100, quality)) / 100f)
    if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta = writer.getDefaultImageMetadata(
      ImageTypeSpecifier.createFromRenderedImage(img), param)
    val tree = meta.getAsTree(MetaFormat).asInstanceOf[IIOMetadataNode]
    val comps = tree.getElementsByTagName("componentSpec")
    for (i <- 0 until comps.getLength) {
      val c = comps.item(i).asInstanceOf[IIOMetadataNode]
      c.setAttribute("HsamplingFactor", "1")
      c.setAttribute("VsamplingFactor", "1")
    }
    meta.setFromTree(MetaFormat, tree)
    Codecs.writeImage(writer, img, param, meta)
  }

  /** Decode a JFIF/JPEG blob to (w, h, interleaved RGB) — baseline or
    * progressive, any sampling; grayscale decodes to replicated-channel
    * RGB. Truncated, stripped or otherwise corrupt streams throw
    * IllegalArgumentException, never a gray-filled image. */
  def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(isJpeg(bytes), "jpeg: missing SOI signature")
    val img = Codecs.readImage(bytes, "jpeg")
    (img.getWidth, img.getHeight, Codecs.rgbOf(img))
  }

  // -------------------------------------------------- EXIF / ICC triage

  /** What the metadata triage earns from the header segments. A real
    * crawl pipeline strips EXIF PII (GPS, serial numbers, timestamps)
    * before training; the first step is KNOWING it is there. */
  final case class ExifMeta(hasExif: Boolean, orientation: Int,
                            exifBytes: Int, hasIcc: Boolean,
                            ifdEntries: Int)

  /** Walk the pre-scan marker segments and parse any APP1/Exif payload
    * down to IFD0 (TIFF header: II/MM byte order, magic 42; 12-byte
    * directory entries; Orientation = tag 0x0112, SHORT). APP2 with an
    * "ICC_PROFILE\0" payload flags an embedded color profile. Corrupt
    * TIFF structure is a LOUD error, never a silent default; a stream
    * with no EXIF returns hasExif=false, orientation=1 (the spec's
    * "normal" default). */
  def exifMeta(bytes: Array[Byte]): ExifMeta = {
    require(isJpeg(bytes), "jpeg: bad signature")
    var hasExif = false; var orientation = 1; var exifBytes = 0
    var hasIcc = false; var ifdEntries = 0
    var p = 2
    def u16(i: Int): Int = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
    var done = false
    while (!done) {
      require(p + 1 < bytes.length, "jpeg: truncated before SOS")
      require((bytes(p) & 0xff) == 0xff,
        f"jpeg: expected marker at offset $p, got 0x${bytes(p) & 0xff}%02x")
      val marker = bytes(p + 1) & 0xff
      if (marker == 0xda || marker == 0xd9) done = true // SOS / EOI
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) p += 2
      else {
        require(p + 3 < bytes.length, "jpeg: truncated segment header")
        val len = u16(p + 2)
        require(len >= 2 && p + 2 + len <= bytes.length,
          s"jpeg: segment length $len overruns the stream")
        val body = p + 4; val bodyLen = len - 2
        if (marker == 0xe1 && bodyLen >= 14 &&
            new String(bytes, body, 6, "US-ASCII") == "Exif\u0000\u0000") {
          hasExif = true; exifBytes = bodyLen
          val tiff = body + 6
          val bo = new String(bytes, tiff, 2, "US-ASCII")
          require(bo == "II" || bo == "MM", s"jpeg: bad TIFF byte order '$bo'")
          val le = bo == "II"
          def r16(i: Int): Int =
            if (le) (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
            else ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
          def r32(i: Int): Long =
            if (le) (bytes(i) & 0xffL) | ((bytes(i + 1) & 0xffL) << 8) |
              ((bytes(i + 2) & 0xffL) << 16) | ((bytes(i + 3) & 0xffL) << 24)
            else ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
              ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
          require(r16(tiff + 2) == 42, "jpeg: bad TIFF magic")
          val ifd0 = tiff + r32(tiff + 4).toInt
          require(ifd0 + 2 <= body + bodyLen, "jpeg: IFD0 offset overruns EXIF")
          val n = r16(ifd0)
          require(ifd0 + 2 + 12 * n + 4 <= body + bodyLen,
            s"jpeg: IFD0 with $n entries overruns EXIF")
          ifdEntries = n
          var e = 0
          while (e < n) {
            val ep = ifd0 + 2 + 12 * e
            val tag = r16(ep); val typ = r16(ep + 4 - 2)
            if (tag == 0x0112) {
              require(typ == 3, s"jpeg: Orientation type $typ, want SHORT")
              orientation = r16(ep + 8)
              require(orientation >= 1 && orientation <= 8,
                s"jpeg: orientation $orientation out of range")
            }
            e += 1
          }
        } else if (marker == 0xe2 && bodyLen >= 12 &&
            new String(bytes, body, 12, "US-ASCII") == "ICC_PROFILE\u0000") {
          hasIcc = true
        }
        p += 2 + len
      }
    }
    ExifMeta(hasExif, orientation, exifBytes, hasIcc, ifdEntries)
  }

  /** Byte size a [[withExif]] APP1 segment adds (marker + length +
    * payload) — shared with the `jpeg_exif_meta` oracle. */
  val ExifSegmentBytes: Int = 2 + 2 + 6 + 8 + 2 + 2 * 12 + 4

  /** Byte size a [[withExif]] ICC APP2 segment adds — shared with the
    * oracle. */
  val IccSegmentBytes: Int = 2 + 2 + 12 + 2 + 16

  /** Inject a minimal-but-valid APP1/Exif segment (little-endian TIFF,
    * IFD0 with Orientation + YCbCrPositioning) — and optionally a dummy
    * APP2/ICC_PROFILE segment — immediately after SOI. The staging half
    * of the triage contract: [[exifMeta]] must read back exactly what
    * this wrote, from a segment layout it did not itself emit inline. */
  def withExif(bytes: Array[Byte], orientation: Int,
               icc: Boolean = false): Array[Byte] = {
    require(isJpeg(bytes), "jpeg: bad signature")
    require(orientation >= 1 && orientation <= 8,
      s"jpeg: orientation $orientation out of range")
    val out = new java.io.ByteArrayOutputStream()
    def m(b: Int): Unit = { out.write(0xff); out.write(b) }
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    out.write(bytes, 0, 2) // SOI
    // APP1: "Exif\0\0" + II TIFF + IFD0(2 entries) + next-IFD 0
    m(0xe1); u16(ExifSegmentBytes - 2)
    out.write("Exif".getBytes("US-ASCII")); out.write(0); out.write(0)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    out.write('I'); out.write('I'); le16(42); le32(8) // TIFF header
    le16(2) // 2 IFD0 entries
    le16(0x0112); le16(3); le32(1); le16(orientation); le16(0)
    le16(0x0213); le16(3); le32(1); le16(1); le16(0) // YCbCrPositioning
    le32(0) // no next IFD
    if (icc) { // APP2: ICC_PROFILE, chunk 1/1, 16 dummy profile bytes
      m(0xe2); u16(IccSegmentBytes - 2)
      out.write("ICC_PROFILE".getBytes("US-ASCII")); out.write(0)
      out.write(1); out.write(1)
      var i = 0
      while (i < 16) { out.write(i * 17); i += 1 }
    }
    out.write(bytes, 2, bytes.length - 2)
    out.toByteArray
  }

  /** Strip the metadata segments a training pipeline must not keep:
    * every APPn for n >= 1 (EXIF, ICC, XMP, Photoshop, ...) and COM
    * comments. APP0/JFIF and every coding segment (DQT/SOF/DHT/DRI/SOS)
    * pass through untouched, and everything from the first SOS on is
    * copied VERBATIM (entropy data plus any progressive re-scans), so
    * the decoded pixels are bit-identical by construction. */
  def stripMetadata(bytes: Array[Byte]): Array[Byte] = {
    require(isJpeg(bytes), "jpeg: bad signature")
    val out = new java.io.ByteArrayOutputStream()
    def u16(i: Int): Int = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
    out.write(bytes, 0, 2)
    var p = 2
    var done = false
    while (!done) {
      require(p + 1 < bytes.length, "jpeg: truncated before SOS")
      require((bytes(p) & 0xff) == 0xff,
        f"jpeg: expected marker at offset $p, got 0x${bytes(p) & 0xff}%02x")
      val marker = bytes(p + 1) & 0xff
      if (marker == 0xda || marker == 0xd9) {
        out.write(bytes, p, bytes.length - p) // verbatim tail
        done = true
      } else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) {
        out.write(bytes, p, 2); p += 2
      } else {
        require(p + 3 < bytes.length, "jpeg: truncated segment header")
        val len = u16(p + 2)
        require(len >= 2 && p + 2 + len <= bytes.length,
          s"jpeg: segment length $len overruns the stream")
        val drop = (marker >= 0xe1 && marker <= 0xef) || marker == 0xfe
        if (!drop) out.write(bytes, p, 2 + len)
        p += 2 + len
      }
    }
    out.toByteArray
  }
}
