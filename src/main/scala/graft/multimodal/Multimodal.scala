package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Typed metadata for an opaque media blob. */
final case class MediaMeta(
    width: Int, height: Int, durationMs: Long, format: String)

/** A media row: opaque `binary` content + typed metadata — the multimodal
  * column convention for the pipeline (images/audio/video travel as bytes;
  * structure lives in `meta`). */
final case class MediaFile(
    media_id: Long, kind: String, content: Array[Byte], meta: MediaMeta)

final case class MediaFeatures(media_id: Long, kind: String, features: Array[Float])

final case class Frame(media_id: Long, frame_idx: Int, content: Array[Byte])

/** Multimodal column operators: decode / feature-extract / resize /
  * frame-sample over `binary` columns.
  *
  * The Spark-side plumbing is real — schema, per-partition batched
  * processing, even partitioning by media id so one hot partition doesn't
  * serialize the decode — and so are the codecs for every major crawl
  * container: PPM and RIFF/WAVE through the REAL parsers in [[Codecs]],
  * PNG, baseline and progressive [[Jpeg]] and [[Gif]] (index-space exact
  * resize) through the JDK's ImageIO, lossless WebP
  * through the full [[Vp8l]] bitstream decoder, [[Flac]] (fixed/LPC
  * prediction + Rice residuals, CRC/MD5 verified), plus the
  * metadata-triage walkers [[Mp4]] (BMFF boxes), [[Mp3]] (frame
  * headers) and lossy-WebP [[Webp]] chunks. Only genuinely undecodable
  * payloads — compressed A/V sample bitstreams (H.264 inside mp4, MPEG
  * audio frames, lossy VP8) and unknown magic — fall back to
  * `decodeStub`, a deterministic fake, so every op stays testable
  * end-to-end and a new codec changes one dispatch arm.
  *
  * At 100 TB: blobs stay in parquet binary columns (scan-pruned when a
  * query only needs `meta`), decode runs once per partition batch via
  * `mapPartitions` (JVM-side; the Python twin would be `mapInPandas` with
  * arrow batches), and `repartition(media_id)` spreads decode cost evenly.
  */
object Multimodal {

  val featureDim = 16

  /** THE DECODE BOUNDARY, stated as data so MultimodalSpec can pin it
    * and the stub can never read as accidental:
    *
    *  - [[SampleDecodeFormats]] decode to REAL pixels/samples, and those
    *    samples feed the features: PNG, baseline+progressive JPEG and
    *    GIF through the JDK's ImageIO; PPM, RIFF/WAVE PCM, FLAC
    *    (fixed/LPC prediction + Rice residuals, CRC- and MD5-verified)
    *    and lossless WebP (the full VP8L bitstream) through hand-written
    *    codecs.
    *  - [[TriageOnlyFormats]] get structural metadata parsing with loud
    *    validation (box/frame/chunk walkers — dims, durations, sample
    *    tables, content fingerprints through stsz/stco), but their
    *    compressed sample bitstreams (H.264, MPEG audio, lossy VP8) are
    *    out of scope for a hand-rolled engine, PERMANENTLY and by
    *    decision, not omission: features come from the DOCUMENTED
    *    deterministic `decodeStub`, never from half-decoded samples.
    *
    * Adding a codec means moving its format between these sets AND
    * updating the dispatch arm — MultimodalSpec fails if the table and
    * the dispatch behavior ever disagree. */
  val SampleDecodeFormats: Set[String] =
    Set("ppm", "png", "jpeg", "gif", "wav", "flac", "webp-vp8l")

  /** See [[SampleDecodeFormats]] — triage-parsed, stub-featured. */
  val TriageOnlyFormats: Set[String] = Set("mp4", "mp3", "webp-vp8")

  /** STUB CODEC — deterministic fake standing in for the A/V SAMPLE
    * decoders out of scope here (H.264/MPEG-audio bitstreams) and for
    * unknown magic; PPM, PNG, JPEG, GIF and WAV blobs never reach it
    * (see [[decode]]). The fake folds the bytes into `featureDim`
    * accumulators so output depends on every input byte and is
    * reproducible across engines and runs. */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val acc = new Array[Float](featureDim)
    var i = 0
    while (i < bytes.length) {
      acc(i % featureDim) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    if (bytes.length > 0) acc.map(_ / bytes.length) else acc
  }

  /** Format-sniffing decode: containers self-identify by magic bytes
    * (what a real lake trusts over user-supplied `meta.format`), so PPM
    * (`P6` + header char), PNG (full 8-byte signature), JPEG (SOI +
    * marker), GIF (`GIF8xa`) and WAV (`RIFF....WAVE`) route to the REAL
    * codecs — ImageIO decodes the PNG, JPEG and GIF pixels; WebP (`RIFF....WEBP`) routes through [[Webp.parseMeta]]
    * container triage before its (documented) stub features — a blob
    * that matches a full magic but fails to parse is a loud task error,
    * never a silent stub fallback — and only genuinely undecodable
    * formats hit the stub.
    * Image features: 4x4 grid mean luminance in [0,1]; audio:
    * `featureDim` windowed mean |amplitude| in [0,1]. */
  def decode(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](featureDim)
    if (Codecs.isPpm(bytes)) {
      val (w, h, px) = Codecs.decodePpm(bytes)
      imageFeatures(w, h, px)
    } else if (Codecs.isPng(bytes)) {
      val (w, h, px) = Codecs.decodePng(bytes)
      imageFeatures(w, h, px)
    } else if (Jpeg.isJpeg(bytes)) {
      val (w, h, px) = Jpeg.decode(bytes)
      imageFeatures(w, h, px)
    } else if (Gif.isGif(bytes)) {
      val (w, h, px) = Gif.decode(bytes)
      imageFeatures(w, h, px)
    } else if (Codecs.isWav(bytes)) {
      val (_, samples) = Codecs.decodeWav(bytes)
      if (samples.isEmpty) out
      else {
        val nW = math.min(featureDim, samples.length)
        val wins = Codecs.windowAbsSum(samples, nW)
        val per = math.max(1, samples.length / nW)
        var i = 0
        while (i < nW) {
          val n = if (i == nW - 1) samples.length - per * (nW - 1) else per
          out(i) = (wins(i).toDouble / (n.toLong * 32768)).toFloat; i += 1
        }
        out
      }
    } else if (Flac.isFlac(bytes)) {
      // full lossless decode (CRC + MD5 verified); features from the
      // first channel — the same windowed |amplitude| read as WAV
      val (meta, chans) = Flac.decode(bytes)
      val samples = chans(0)
      if (samples.isEmpty) out
      else {
        val nW = math.min(featureDim, samples.length)
        val scale = 1L << (meta.bps - 1)
        val per = math.max(1, samples.length / nW)
        var i = 0
        while (i < nW) {
          val from = i * per
          val until = if (i == nW - 1) samples.length else from + per
          var s = 0L
          var j = from
          while (j < until) { s += math.abs(samples(j).toLong); j += 1 }
          out(i) = (s.toDouble / ((until - from).toLong * scale)).toFloat
          i += 1
        }
        out
      }
    } else if (Webp.isWebp(bytes)) {
      // Lossless WebP (VP8L) decodes to REAL pixels through the full
      // [[Vp8l]] decoder; lossy (VP8) stays container-triage + stub per
      // the MP3/MP4 precedent (a VP8 sample decoder is out of scope) —
      // but parseMeta must ACCEPT the blob either way, so a corrupt
      // WebP is a loud error, never a silent stub feature.
      if (Webp.isLossless(bytes)) {
        val (w, h, px) = Webp.decodeLossless(bytes)
        imageFeatures(w, h, px)
      } else {
        Webp.parseMeta(bytes)
        decodeStub(bytes)
      }
    } else decodeStub(bytes)
  }

  /** Strip metadata segments (EXIF/ICC/XMP/COM) from every JPEG blob in
    * `column`, in place — the media half of a PII scrub: GPS fixes,
    * device serials and timestamps ride in APP1 and must never reach a
    * training corpus. Decoded pixels are bit-identical by construction
    * ([[Jpeg.stripMetadata]] copies the coding segments and entropy tail
    * verbatim — the `jpeg_exif_meta` contract query proves it per blob);
    * non-JPEG blobs and nulls pass through untouched, so the step is
    * safe on a mixed-format media column. Row-local, no shuffle; the
    * schema is preserved exactly. */
  def scrubImageMetadata(df: org.apache.spark.sql.DataFrame,
                         column: String): org.apache.spark.sql.DataFrame = {
    val schema = df.schema
    val idx = schema.fieldIndex(column)
    require(schema(idx).dataType ==
        org.apache.spark.sql.types.BinaryType,
      s"scrubImageMetadata: column '$column' is ${schema(idx).dataType}, " +
        "need binary")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    df.map { r =>
      val b = r.getAs[Array[Byte]](idx)
      val out = if (b != null && Jpeg.isJpeg(b)) Jpeg.stripMetadata(b) else b
      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(idx, out))
    }
  }

  /** 4x4 grid mean luminance in [0,1] from decoded RGB — shared by every
    * image codec branch. Exact per-cell pixel counts under the same floor
    * mapping keep the mean in [0,1] even when 4 doesn't divide w or h. */
  private def imageFeatures(w: Int, h: Int, px: Array[Byte]): Array[Float] = {
    val out = new Array[Float](featureDim)
    val gw = math.min(4, w); val gh = math.min(4, h)
    val cells = Codecs.gridLuminance(w, h, px, gw, gh)
    val counts = new Array[Long](gw * gh)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) { counts(r * gh / h * gw + c * gw / w) += 1; c += 1 }
      r += 1
    }
    var i = 0
    while (i < cells.length) {
      out(i) = (cells(i).toDouble / (counts(i) * 3L * 255)).toFloat; i += 1
    }
    out
  }

  /** Batched feature extraction: one decode pass per partition, constant
    * memory per batch. `repartition` first so decode cost spreads evenly
    * across executors regardless of source file layout. */
  def extractFeatures(media: Dataset[MediaFile],
                      partitions: Int = 0): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val even =
      if (partitions > 0) media.repartition(partitions, col("media_id"))
      else media
    even.mapPartitions { it =>
      it.grouped(64).flatMap { batch => // bounded batch shape, arrow-like
        batch.iterator.map(m =>
          MediaFeatures(m.media_id, m.kind, decode(m.content)))
      }
    }
  }

  /** Resize: new blob + updated meta, format-sniffed like [[decode]].
    * PPM, PNG, JPEG and lossless-WebP blobs get a REAL nearest-neighbor
    * resample re-encoded in their own container at the new dimensions
    * (ImageIO codes the PNG and JPEG ones); GIF resamples in index space
    * and re-encodes through ImageIO against its own palette; opaque
    * formats keep the deterministic truncate/pad stand-in. Meta tracks
    * the new geometry either way. */
  def resize(media: Dataset[MediaFile], w: Int, h: Int): Dataset[MediaFile] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val out =
        if (Codecs.isPpm(m.content)) {
          val (sw, sh, px) = Codecs.decodePpm(m.content)
          Codecs.encodePpm(w, h, Codecs.resizeNearest(sw, sh, px, w, h))
        } else if (Codecs.isPng(m.content)) {
          val (sw, sh, px) = Codecs.decodePng(m.content)
          Codecs.encodePng(w, h, Codecs.resizeNearest(sw, sh, px, w, h))
        } else if (Jpeg.isJpeg(m.content)) {
          val (sw, sh, px) = Jpeg.decode(m.content)
          Jpeg.encode(w, h, Codecs.resizeNearest(sw, sh, px, w, h))
        } else if (Webp.isWebp(m.content) && Webp.isLossless(m.content)) {
          val (sw, sh, px) = Webp.decodeLossless(m.content)
          Webp.buildLosslessPixels(w, h, Codecs.resizeNearest(sw, sh, px, w, h))
        } else if (Gif.isGif(m.content)) {
          // resample in INDEX space against the frame's own palette —
          // nearest-neighbor never invents colors, so the re-encode is
          // exact (GIF stays lossless through resize)
          val (sw, sh, idx, table) = Gif.decodeIndexed(m.content)
          Gif.encode(w, h, Gif.resizeIndexed(sw, sh, idx, w, h),
            java.util.Arrays.copyOf(table, 768))
        } else java.util.Arrays.copyOf(m.content, w * h)
      m.copy(content = out, meta = m.meta.copy(width = w, height = h))
    }
  }

  /** Frame sampling for video blobs: one output row per sampled frame,
    * frame bytes sliced deterministically from the blob (stub for a real
    * frame decoder). flatMap — no shuffle; downstream ops see frames as
    * independent rows. */
  def sampleFrames(media: Dataset[MediaFile], everyMs: Long): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val n = math.max(1, (m.meta.durationMs / math.max(1, everyMs)).toInt)
      val chunk = math.max(1, m.content.length / n)
      (0 until n).map { i =>
        val from = math.min(i * chunk, m.content.length)
        val until = math.min(from + chunk, m.content.length)
        Frame(m.media_id, i, java.util.Arrays.copyOfRange(m.content, from, until))
      }
    }
  }

  /** Metadata-only projection — must prune the binary column at the scan
    * (the reason content and meta live in separate columns). */
  def metaProfile(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), col("meta.*"))
      .groupBy("kind", "format")
      .agg(count(lit(1)).as("n"), avg("durationMs").as("avg_duration_ms"))
}
