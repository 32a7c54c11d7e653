package graft.multimodal

/** GIF codec contract: byte-exact lossless roundtrip (palette format),
  * LZW dictionary-reset coverage, interlaced row weaving, agreement with
  * a plain `ImageIO.read` and with the JDK writer's own output, and loud
  * failures on malformed streams. Extends SparkSpec for the
  * dispatch test — a per-suite session would share (and on stop() kill)
  * the JVM-wide SparkContext. */
class GifSpec extends graft.SparkSpec {

  private val grayPalette: Array[Byte] =
    Array.tabulate[Byte](768)(i => (i / 3).toByte)

  private def pattern(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate[Byte](w * h)(i => ((i * 31 + seed) % 251).toByte)

  behavior of "Gif"

  it should "roundtrip palette pixels byte-exactly (lossless)" in {
    for ((w, h) <- Seq((16, 16), (17, 13), (1, 1), (64, 48))) {
      val idx = pattern(w, h, w + h)
      val blob = Gif.encode(w, h, idx, grayPalette)
      Gif.isGif(blob) shouldBe true
      val (dw, dh, rgb) = Gif.decode(blob)
      (dw, dh) shouldBe (w, h)
      // grayscale identity palette: every channel equals the index
      (0 until w * h).foreach { i =>
        rgb(3 * i) shouldBe idx(i)
        rgb(3 * i + 1) shouldBe idx(i)
        rgb(3 * i + 2) shouldBe idx(i)
      }
    }
  }

  it should "survive an LZW dictionary reset on a large varied frame" in {
    // 128x128 of varied data pushes the dictionary past 4096 entries,
    // forcing the encoder's mid-stream clear + rebuild
    val (w, h) = (128, 128)
    val idx = Array.tabulate[Byte](w * h)(i => ((i * 7 + i / 13) % 256).toByte)
    val (dw, dh, rgb) = Gif.decode(Gif.encode(w, h, idx, grayPalette))
    (dw, dh) shouldBe (w, h)
    (0 until w * h).forall(i => rgb(3 * i) == idx(i)) shouldBe true
  }

  it should "de-weave interlaced frames back to natural row order" in {
    val (w, h) = (8, 11) // odd height exercises all four pass lengths
    val idx = pattern(w, h, 3)
    // build the interlaced fixture: encode the rows in GIF's 4-pass
    // stream order, then flip the interlace flag in the descriptor
    val order = (0 until h).filter(_ % 8 == 0) ++
      (0 until h).filter(_ % 8 == 4) ++
      (0 until h).filter(r => r % 4 == 2) ++
      (0 until h).filter(_ % 2 == 1)
    val woven = order.flatMap(r =>
      (0 until w).map(c => idx(r * w + c))).toArray
    val blob = Gif.encode(w, h, woven, grayPalette)
    val at = 6 + 7 + 768 // header + LSD + GCT → image descriptor
    blob(at) shouldBe 0x2c.toByte
    blob(at + 9) = (blob(at + 9) | 0x40).toByte // interlace flag
    val (_, _, rgb) = Gif.decode(blob)
    (0 until w * h).forall(i => rgb(3 * i) == idx(i)) shouldBe true
  }

  it should "produce streams the JDK's independent ImageIO codec decodes identically" in {
    val (w, h) = (24, 16)
    val idx = pattern(w, h, 7)
    val blob = Gif.encode(w, h, idx, grayPalette)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    img should not be null
    (img.getWidth, img.getHeight) shouldBe (w, h)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val want = idx(y * w + x) & 0xff
      ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) shouldBe (want, want, want)
    }
  }

  it should "decode the JDK's own GIF output byte-exactly" in {
    val (w, h) = (20, 14)
    val idx = pattern(w, h, 5)
    // indexed source image → ImageIO GIF writer preserves the palette
    val cm = new java.awt.image.IndexColorModel(8, 256,
      Array.tabulate[Byte](256)(_.toByte),
      Array.tabulate[Byte](256)(_.toByte),
      Array.tabulate[Byte](256)(_.toByte))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w) {
      val v = idx(y * w + x) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", out) shouldBe true
    val (dw, dh, rgb) = Gif.decode(out.toByteArray)
    (dw, dh) shouldBe (w, h)
    (0 until w * h).forall(i => (rgb(3 * i) & 0xff) == (idx(i) & 0xff)) shouldBe true
  }

  it should "fail loudly on malformed streams" in {
    an[IllegalArgumentException] should be thrownBy
      Gif.decode("GIF10a???".getBytes)
    val blob = Gif.encode(8, 8, pattern(8, 8, 1), grayPalette)
    an[IllegalArgumentException] should be thrownBy
      Gif.decode(java.util.Arrays.copyOf(blob, blob.length - 10))
    // trailer with no frame
    val empty = blob.take(6 + 7 + 768) :+ 0x3b.toByte
    intercept[IllegalArgumentException](Gif.decode(empty))
      .getMessage should startWith ("gif: ")
    an[IllegalArgumentException] should be thrownBy
      Gif.encode(8, 8, new Array[Byte](3), grayPalette) // wrong buffer
  }

  it should "route GIF blobs through decode and exact index-space resize" in {
    val (w, h) = (16, 16)
    val idx = pattern(w, h, 9)
    val blob = Gif.encode(w, h, idx, grayPalette)
    // dispatch: features equal the decoded image's grid luminance
    val feats = Multimodal.decode(blob)
    val (_, _, px) = Gif.decode(blob)
    val cells = Codecs.gridLuminance(w, h, px, 4, 4)
    feats.toSeq shouldBe cells.map(c =>
      (c.toDouble / (16L * 3 * 255)).toFloat).toSeq
    // exact resize: indices resampled, palette preserved, still lossless
    // (shared spec session)
    import spark.implicits._
    val m = Seq(MediaFile(1L, "image", blob,
      MediaMeta(w, h, 1000L, "gif"))).toDS()
    val out = Multimodal.resize(m, 8, 8).collect().head
    Gif.isGif(out.content) shouldBe true
    val (rw, rh, rpx) = Gif.decode(out.content)
    (rw, rh) shouldBe (8, 8)
    val want = Gif.resizeIndexed(w, h, idx, 8, 8)
    (0 until 64).forall(i => rpx(3 * i) == want(i)) shouldBe true
  }
}
