package graft.multimodal

/** JPEG codec contract: exact metadata + marker grammar, PSNR-bounded
  * lossy pixel roundtrip, streams from the JDK's default (4:2:0) writer
  * decoded within bounds, pixels equal to what a plain `ImageIO.read`
  * returns, and loud failures where ImageIO alone would only warn.
  * Extends SparkSpec for the dispatch test — a per-suite session would
  * share (and on stop() kill) the JVM-wide SparkContext. */
class JpegSpec extends graft.SparkSpec {

  /** deterministic test image: smooth gradients + structured pattern. */
  private def testImage(w: Int, h: Int, seed: Int = 0): Array[Byte] =
    Array.tabulate(w * h * 3) { k =>
      val p = k / 3; val c = k % 3
      val x = p % w; val y = p / w
      val v = c match {
        case 0 => (x * 255 / math.max(1, w - 1) + seed) % 256
        case 1 => (y * 255 / math.max(1, h - 1) + 2 * seed) % 256
        case _ => ((x + y) * 17 + seed) % 256
      }
      v.toByte
    }

  private def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length)
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff); se += d.toDouble * d; i += 1
    }
    if (se == 0) Double.PositiveInfinity
    else 10 * math.log10(255.0 * 255.0 * a.length / se)
  }

  private def imageioDecode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    img should not be null
    val w = img.getWidth; val h = img.getHeight
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val o = 3 * (y * w + x)
        rgb(o) = ((p >> 16) & 0xff).toByte
        rgb(o + 1) = ((p >> 8) & 0xff).toByte
        rgb(o + 2) = (p & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (w, h, rgb)
  }

  private def imageioEncode(w: Int, h: Int, rgb: Array[Byte],
                            quality: Float): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = 3 * (y * w + x)
        img.setRGB(x, y, ((rgb(o) & 0xff) << 16) |
          ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(out))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    out.toByteArray
  }

  behavior of "Jpeg"

  it should "roundtrip with exact metadata and PSNR-bounded pixels" in {
    for ((w, h) <- Seq((16, 16), (17, 13), (8, 8), (1, 1), (33, 9))) {
      val src = testImage(w, h, w + h)
      val blob = Jpeg.encode(w, h, src, quality = 85)
      Jpeg.isJpeg(blob) shouldBe true
      // marker grammar: SOI … EOI, JFIF APP0
      (blob(0) & 0xff, blob(1) & 0xff) shouldBe (0xff, 0xd8)
      (blob(blob.length - 2) & 0xff, blob.last & 0xff) shouldBe (0xff, 0xd9)
      new String(blob.slice(6, 10), "US-ASCII") shouldBe "JFIF"
      val (dw, dh, px) = Jpeg.decode(blob)
      (dw, dh) shouldBe (w, h) // metadata byte-exact
      px.length shouldBe w * h * 3
      // the test pattern's sawtooth channel is adversarial for a DCT
      // codec; observed roundtrip PSNR at q85 is 28.5-53 dB across sizes
      psnr(src, px) should be > 27.0
    }
  }

  it should "degrade gracefully with quality, never below the baseline bound" in {
    val src = testImage(32, 24)
    val q50 = Jpeg.decode(Jpeg.encode(32, 24, src, quality = 50))._3
    val q95 = Jpeg.decode(Jpeg.encode(32, 24, src, quality = 95))._3
    psnr(src, q50) should be > 24.0
    psnr(src, q95) should be > psnr(src, q50)
  }

  it should "produce streams the JDK's independent ImageIO codec decodes identically" in {
    val (w, h) = (24, 16)
    val src = testImage(w, h, 7)
    val blob = Jpeg.encode(w, h, src, quality = 85)
    val (dw, dh, ours) = Jpeg.decode(blob)
    val (iw, ih, theirs) = imageioDecode(blob)
    (iw, ih) shouldBe (dw, dh)
    // same decoder: the loud read path returns exactly what a plain
    // ImageIO.read does
    ours.toSeq shouldBe theirs.toSeq
  }

  it should "decode the JDK's own (subsampled) streams within the PSNR bound" in {
    val (w, h) = (40, 28)
    val src = testImage(w, h, 3)
    for (q <- Seq(0.7f, 0.95f)) { // JDK's default path subsamples chroma
      val blob = imageioEncode(w, h, src, q)
      val (dw, dh, ours) = Jpeg.decode(blob)
      (dw, dh) shouldBe (w, h)
      // 4:2:0 chroma puts the decode 18.5-19.4 dB from the sawtooth source
      psnr(src, ours) should be > 17.5
      ours.toSeq shouldBe imageioDecode(blob)._3.toSeq
    }
  }

  it should "fail loudly on non-conforming or broken streams" in {
    val blob = Jpeg.encode(8, 8, testImage(8, 8), quality = 85)
    // patch SOF0 → SOF2: the baseline scan header (Ss=0, Se=63) is
    // ill-formed as a progressive DC scan — must refuse, never misdecode
    val prog = blob.clone()
    val sof = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    intercept[IllegalArgumentException](Jpeg.decode(prog))
      .getMessage should startWith ("jpeg: ")
    // truncated entropy stream: ImageIO decodes it with only a warning
    intercept[IllegalArgumentException](
      Jpeg.decode(java.util.Arrays.copyOf(blob, blob.length - 8)))
      .getMessage should include ("Truncated")
    // a progressive stream cut to 60 % warns the same way
    val progBlob = Jpeg.encodeProgressive(16, 16, testImage(16, 16), quality = 85)
    an[IllegalArgumentException] should be thrownBy
      Jpeg.decode(java.util.Arrays.copyOf(progBlob, progBlob.length * 6 / 10))
    // not a JPEG at all
    an[IllegalArgumentException] should be thrownBy
      Jpeg.decode("not a jpeg".getBytes)
  }

  // ------------------------------------------- progressive (SOF2) decode

  private def imageioEncodeProgressive(w: Int, h: Int, rgb: Array[Byte],
                                       quality: Float): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = 3 * (y * w + x)
        img.setRGB(x, y, ((rgb(o) & 0xff) << 16) |
          ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(out))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    out.toByteArray
  }

  private def hasSof2(blob: Array[Byte]): Boolean =
    blob.indices.dropRight(1).exists(i =>
      (blob(i) & 0xff) == 0xff && (blob(i + 1) & 0xff) == 0xc2)

  /** Y-plane PSNR (0.299R + 0.587G + 0.114B): the JDK writes progressive
    * streams with 4:2:0 chroma, which bounds full-RGB fidelity — but the
    * FULL-RESOLUTION luma plane has no chroma filter in play. */
  private def lumPsnr(a: Array[Byte], b: Array[Byte]): Double = {
    def lum(px: Array[Byte]): Array[Byte] =
      Array.tabulate[Byte](px.length / 3) { p =>
        val o = 3 * p
        math.round(0.299 * (px(o) & 0xff) + 0.587 * (px(o + 1) & 0xff) +
          0.114 * (px(o + 2) & 0xff)).toByte
      }
    psnr(lum(a), lum(b))
  }

  it should "decode the JDK's progressive (SOF2) streams within the PSNR bound" in {
    for ((w, h) <- Seq((40, 28), (17, 13), (64, 48)); q <- Seq(0.7f, 0.95f)) {
      val src = testImage(w, h, w + 3 * h)
      val blob = imageioEncodeProgressive(w, h, src, q)
      // the staged stream must really be progressive, or this test
      // silently degrades to the sequential path
      hasSof2(blob) shouldBe true
      val (dw, dh, ours) = Jpeg.decode(blob)
      (dw, dh) shouldBe (w, h)
      // 4:2:0 chroma bounds the RGB error (observed 16.9-21.5 dB); the
      // full-resolution luma plane carries only the quantization loss
      // (observed 35.8-43.9 dB)
      psnr(src, ours) should be > 16.0
      lumPsnr(src, ours) should be > 34.0
      ours.toSeq shouldBe imageioDecode(blob)._3.toSeq
    }
  }

  it should "emit progressive streams whose decode matches the baseline decode exactly" in {
    // the progressive scans carry the SAME quantized coefficients as the
    // baseline stream, so the two decodes must agree pixel-for-pixel
    for ((w, h) <- Seq((16, 16), (17, 13), (33, 9), (1, 1))) {
      val src = testImage(w, h, 2 * w + h)
      val prog = Jpeg.encodeProgressive(w, h, src, quality = 85)
      hasSof2(prog) shouldBe true
      val (dw, dh, ours) = Jpeg.decode(prog)
      (dw, dh) shouldBe (w, h)
      val (_, _, base) = Jpeg.decode(Jpeg.encode(w, h, src, quality = 85))
      ours.toSeq shouldBe base.toSeq // identical coefficients, same IDCT
    }
  }

  it should "refuse a progressive stream whose scans were stripped, never emit flat gray" in {
    val prog = Jpeg.encodeProgressive(16, 16, testImage(16, 16), quality = 85)
    // strip everything from the first SOS to EOI: SOI + tables + SOF2 + EOI
    val sos = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda).get
    val stripped = java.util.Arrays.copyOf(prog, sos + 2)
    stripped(sos) = 0xff.toByte; stripped(sos + 1) = 0xd9.toByte // EOI
    intercept[IllegalArgumentException](Jpeg.decode(stripped))
      .getMessage should include ("SOS")
  }

  it should "decode a progressive re-encode of our own baseline output as well as the JDK does" in {
    // full pipeline: our encoder -> JDK progressive 4:2:0 transcode ->
    // our decoder, which must read out exactly the JDK's own decode of
    // the same stream (the 4:2:0 chroma loss belongs to the transcode)
    val (w, h) = (32, 24)
    val src = testImage(w, h, 5)
    val base = Jpeg.encode(w, h, src, quality = 95)
    val (_, _, basePx) = Jpeg.decode(base)
    val prog = imageioEncodeProgressive(w, h, basePx, 0.95f)
    hasSof2(prog) shouldBe true
    val (dw, dh, ours) = Jpeg.decode(prog)
    (dw, dh) shouldBe (w, h)
    ours.toSeq shouldBe imageioDecode(prog)._3.toSeq
    psnr(basePx, ours) should be > 18.0 // observed 19.0 dB
    lumPsnr(basePx, ours) should be > 40.0 // observed 43.6 dB
  }

  it should "reject bad encode geometry" in {
    an[IllegalArgumentException] should be thrownBy
      Jpeg.encode(0, 8, Array.empty)
    an[IllegalArgumentException] should be thrownBy
      Jpeg.encode(8, 8, new Array[Byte](10)) // wrong buffer size
  }

  behavior of "Multimodal jpeg dispatch"

  it should "route JPEG blobs through the real codec in decode and resize" in {
    val (w, h) = (16, 16)
    val src = testImage(w, h, 11)
    val blob = Jpeg.encode(w, h, src, quality = 90)
    // features come from DECODED pixels (grid luminance), not the stub:
    // they must match imageFeatures of the decoded RGB — computed here
    // via gridLuminance on the decode output
    val feats = Multimodal.decode(blob)
    feats.length shouldBe Multimodal.featureDim
    val (_, _, px) = Jpeg.decode(blob)
    val cells = Codecs.gridLuminance(w, h, px, 4, 4)
    val expect = cells.map(c => (c.toDouble / (16L * 3 * 255)).toFloat)
    feats.toSeq shouldBe expect.toSeq
    // resize: re-encoded JPEG at the new geometry (shared spec session)
    import spark.implicits._
    val media = Seq(MediaFile(1L, "image", blob,
      MediaMeta(w, h, 1000L, "jpg"))).toDS()
    val out = Multimodal.resize(media, 8, 8).collect().head
    Jpeg.isJpeg(out.content) shouldBe true
    val (rw, rh, _) = Jpeg.decode(out.content)
    (rw, rh) shouldBe (8, 8)
    out.meta.width shouldBe 8
  }

  behavior of "Jpeg exif triage"

  it should "read back exactly the EXIF/ICC segments withExif staged" in {
    val base = Jpeg.encode(16, 16, testImage(16, 16, 5), quality = 85)
    for (orient <- 1 to 8; icc <- Seq(false, true)) {
      val tagged = Jpeg.withExif(base, orient, icc)
      val m = Jpeg.exifMeta(tagged)
      m.hasExif shouldBe true
      m.orientation shouldBe orient
      m.hasIcc shouldBe icc
      m.ifdEntries shouldBe 2
      m.exifBytes shouldBe Jpeg.ExifSegmentBytes - 4 // minus marker+len
      tagged.length shouldBe base.length + Jpeg.ExifSegmentBytes +
        (if (icc) Jpeg.IccSegmentBytes else 0)
    }
    // a bare encoder stream carries no EXIF and defaults orientation 1
    val none = Jpeg.exifMeta(base)
    (none.hasExif, none.orientation, none.hasIcc) shouldBe ((false, 1, false))
  }

  it should "strip metadata segments without moving a pixel" in {
    val src16 = testImage(16, 16, 7)
    for (prog <- Seq(false, true)) {
      val base =
        if (prog) Jpeg.encodeProgressive(16, 16, src16, quality = 85)
        else Jpeg.encode(16, 16, src16, quality = 85)
      val tagged = Jpeg.withExif(base, orientation = 6, icc = true)
      val stripped = Jpeg.stripMetadata(tagged)
      stripped shouldBe base // byte-identical: only the staged segments go
      val m = Jpeg.exifMeta(stripped)
      (m.hasExif, m.hasIcc) shouldBe ((false, false))
      val (w1, h1, p1) = Jpeg.decode(tagged)
      val (w2, h2, p2) = Jpeg.decode(stripped)
      (w2, h2) shouldBe ((w1, h1))
      p2 shouldBe p1
    }
  }

  it should "scrub blobs through the CorpusRunner exif_scrub step, non-JPEG untouched" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Jpeg.encode(16, 16, testImage(16, 16, 9), quality = 85)
    val tagged = Jpeg.withExif(base, orientation = 3, icc = true)
    val notJpeg = "plain text bytes".getBytes("UTF-8")
    val df = Seq((1L, tagged), (2L, notJpeg), (3L, null))
      .toDF("doc_id", "content")
    val cc = graft.config.CorpusConf(steps = Seq(
      graft.config.CorpusStepConf(op = "exif_scrub")))
    val out = graft.CorpusRunner.applyStep(df, cc.steps.head, cc)
      .orderBy("doc_id").collect()
    out(0).getAs[Array[Byte]]("content") shouldBe base // EXIF+ICC gone
    out(1).getAs[Array[Byte]]("content") shouldBe notJpeg // untouched
    out(2).getAs[Array[Byte]]("content") shouldBe null
    // the step name validates through the real config parser
    val conf = graft.config.GraftConf.fromJson(
      """{"project": {"name": "t", "root": "/tmp/graft-exif-scrub-cfg"},
        | "data": {"source": "parquet:///tmp/none.parquet"},
        | "columns": {"response": "lang"},
        | "corpus": {"steps": [{"op": "exif_scrub"}]}}""".stripMargin)
    graft.config.ConfigValidator.validate(conf)
    an[IllegalArgumentException] should be thrownBy
      graft.CorpusRunner.applyStep(df.drop("content"), cc.steps.head, cc)
  }

  it should "fail loudly on corrupt EXIF structure" in {
    val base = Jpeg.encode(8, 8, testImage(8, 8, 3), quality = 85)
    val tagged = Jpeg.withExif(base, orientation = 2)
    // find the TIFF header ("II" after Exif\0\0) and corrupt pieces
    def corrupt(off: Int, v: Byte): Array[Byte] = {
      val c = tagged.clone(); c(off) = v; c
    }
    val tiff = 2 + 4 + 6 // SOI + marker/len + Exif\0\0
    an[IllegalArgumentException] should be thrownBy
      Jpeg.exifMeta(corrupt(tiff, 'X'.toByte)) // bad byte order
    an[IllegalArgumentException] should be thrownBy
      Jpeg.exifMeta(corrupt(tiff + 2, 43.toByte)) // bad magic
    an[IllegalArgumentException] should be thrownBy
      Jpeg.exifMeta(corrupt(tiff + 8 + 2 + 8, 9.toByte)) // orientation 9
  }
}
