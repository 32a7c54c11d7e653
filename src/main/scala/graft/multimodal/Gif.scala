package graft.multimodal

import java.awt.image.{BufferedImage, IndexColorModel}
import javax.imageio.{ImageIO, ImageWriteParam}

/** GIF87a/89a, the third major crawl image container next to PNG and
  * JPEG, coded by the JDK's ImageIO (LZW, sub-blocks, interlace). GIF is
  * LOSSLESS over a palette, so unlike JPEG the roundtrip contract is
  * byte-exact pixels.
  *
  * Encoder: GIF89a, one full-frame non-interlaced image, the given
  * 256-entry color table. Decoder: the first image frame with its
  * color table (global or local); truncated streams and streams with no
  * frame fail loudly (see [[Codecs.readImage]]). The index-space resize
  * is written here: it is what keeps a GIF lossless through resize. */
object Gif {

  def isGif(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8' &&
      (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'

  /** Encode palette-indexed pixels as a single-frame GIF89a. `palette`
    * is 256 RGB triples (768 bytes); `idx` one palette index per pixel. */
  def encode(w: Int, h: Int, idx: Array[Byte],
             palette: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 65535 && h <= 65535,
      s"gif: bad dimensions ${w}x$h")
    require(idx.length == w * h, // w,h <= 2^16 so the product can't overflow
      s"gif: need ${w * h} indices for ${w}x$h, got ${idx.length}")
    require(palette.length == 768,
      s"gif: palette must be 256 RGB triples (768 bytes), got ${palette.length}")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED,
      new IndexColorModel(8, 256, palette, 0, false))
    img.getRaster.setDataElements(0, 0, w, h, idx)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(ImageWriteParam.MODE_DISABLED) // not interlaced
    Codecs.writeImage(writer, img, param, null)
  }

  /** Decode the FIRST image frame to (w, h, interleaved RGB) through its
    * color table. */
  def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, idx, table) = decodeIndexed(bytes)
    val rgb = new Array[Byte](w * h * 3)
    val colors = table.length / 3
    var i = 0
    while (i < w * h) {
      val c = idx(i) & 0xff
      require(c < colors, s"gif: pixel index $c outside the color table")
      rgb(3 * i) = table(3 * c)
      rgb(3 * i + 1) = table(3 * c + 1)
      rgb(3 * i + 2) = table(3 * c + 2)
      i += 1
    }
    (w, h, rgb)
  }

  /** Nearest-neighbor resample in INDEX space: resizing a palette image
    * never invents colors, so resize∘decode stays exactly re-encodable
    * against the frame's own table. */
  def resizeIndexed(w: Int, h: Int, idx: Array[Byte],
                    ow: Int, oh: Int): Array[Byte] = {
    require(idx.length == w * h, "gif: bad index buffer")
    require(ow > 0 && oh > 0 && ow.toLong * oh <= Int.MaxValue,
      s"gif: bad resize target ${ow}x$oh")
    val out = new Array[Byte](ow * oh)
    var y = 0
    while (y < oh) {
      val sy = y * h / oh
      var x = 0
      while (x < ow) { out(y * ow + x) = idx(sy * w + x * w / ow); x += 1 }
      y += 1
    }
    out
  }

  /** The first frame as (w, h, palette indices, color table) — the form
    * the exact resize path re-encodes. */
  def decodeIndexed(bytes: Array[Byte])
      : (Int, Int, Array[Byte], Array[Byte]) = {
    require(isGif(bytes), "gif: missing GIF8xa signature")
    val img = Codecs.readImage(bytes, "gif")
    val cm = img.getColorModel match {
      case cm: IndexColorModel => cm
      case other => throw new IllegalArgumentException(
        s"gif: frame decoded without a color table ($other)")
    }
    val w = img.getWidth; val h = img.getHeight
    // getSamples, not the data buffer: small tables decode bit-packed
    val idx = img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
      .map(_.toByte)
    val n = cm.getMapSize
    val table = new Array[Byte](n * 3)
    var c = 0
    while (c < n) {
      val rgb = cm.getRGB(c)
      table(3 * c) = (rgb >> 16).toByte
      table(3 * c + 1) = (rgb >> 8).toByte
      table(3 * c + 2) = rgb.toByte
      c += 1
    }
    (w, h, idx, table)
  }
}
