package graft.queries

import graft.Tables
import graft.plans.Held
import graft.multimodal.{MediaFile, Multimodal}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries over the multimodal column operators
  * (graft.multimodal): binary `content` + typed `meta`, frame sampling as
  * a typed flatMap, metadata-only profiles that prune the blob column at
  * the scan.
  *
  * The media table is derived deterministically from `documents` (text
  * bytes as the blob, metadata from doc_id/n_chars) so the byte-level
  * operators — frame slicing, blob lengths, md5 of frame bytes — are
  * exactly reproducible in the DuckDB oracle. The float feature-extract
  * stub stays spec-verified (MultimodalSpec): float accumulation is not
  * bit-stable across engines, byte slicing is.
  */
object MultimodalPack extends QueryPack {

  /** Staging contract, stated explicitly instead of implied by testdata:
    * codec payloads derive from doc text and the derivation indexes
    * `bytes(k % length)`, so empty text coalesces to the "." sentinel
    * (the oracles apply the identical CASE/greatest(…,1) guard). */
  private def payloadBytes(text: String): Array[Byte] = {
    val b = text.getBytes("UTF-8")
    if (b.isEmpty) Array('.'.toByte) else b
  }

  /** Deterministic media rows: blob = UTF-8 text bytes; kind/format cycle
    * image/audio/video by doc_id; duration = 10ms per char. */
  def mediaFrom(s: SparkSession, dir: String): Dataset[MediaFile] = {
    import s.implicits._
    Tables.documents(s, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("content"),
      struct(
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (col("n_chars") * 10).as("durationMs"),
        element_at(array(lit("png"), lit("wav"), lit("mp4")),
          (col("doc_id") % 3 + 1).cast("int")).as("format")).as("meta"))
      .as[MediaFile]
  }

  /** Frame sampling through the REAL typed operator
    * (Multimodal.sampleFrames): one row per sampled frame, bytes sliced
    * from the blob — verified per frame by length + md5 of the bytes. */
  def mediaFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(mediaFrom(s, dir), everyMs = 5000)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("frame_md5"))
      .orderBy("media_id", "frame_idx")

  /** Metadata-only profile (Multimodal.metaProfile) — reads `meta` and
    * never the blob; the scan must prune `content` (PlanAuditSpec checks
    * the same property on the parquet path). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.metaProfile(mediaFrom(s, dir).toDF())
      .select(col("kind"), col("format"), col("n"),
        round(col("avg_duration_ms"), 2).as("avg_duration_ms"))
      .orderBy("kind")

  /** Blob-similarity profile — the multimodal near-dup pipeline with an
    * ENGINE-EXACT feature map: fv[j] = Σ blob bytes at positions ≡ j
    * (mod 16), a pure-integer fold (the cross-engine-checkable stand-in
    * for [[Multimodal.decodeStub]]'s float fold, which MultimodalSpec
    * verifies instead — float accumulation is not bit-stable across
    * engines, integer sums are). Pairs meet within their `kind` block and
    * land in per-percent cosine buckets, so the checked artifact is the
    * bounded similarity histogram, not an O(pairs) dump. At 100 TB the
    * within-kind pair join becomes LSH/banding over the same features —
    * the plan shape of `neardup_cosine`. */
  def mediaNeardup(s: SparkSession, dir: String): Held = {
    import graft.functions.GraftFunctions.{byteFold, vecDot}
    // both sides of the within-kind pair join
    val Held(feats, featsH) = Held.cached(mediaFrom(s, dir).toDF()
      .select(col("media_id"), col("kind"), col("content"))
      // ONE codegen pass over the raw blob bytes (ByteFold) — the
      // interpreted HOF form this replaces materialized a boxed
      // sequence(0, len-1) per bin. The corpus is pure ASCII, so the
      // unsigned-byte sum equals the oracle's per-character ascii() sum;
      // stored as doubles — every value < 2^53, so the cast is exact and
      // the O(pairs) hot loop below runs the CODEGEN vec_dot kernel
      .withColumn("fv", byteFold(col("content"), 16).cast("array<double>"))
      .drop("content")
      .withColumn("nrm", sqrt(vecDot(col("fv"), col("fv"))))
      .select("media_id", "kind", "fv", "nrm"))
    // `kind` has ~3 distinct values, but the build side is narrow
    // feature rows → Spark broadcasts it and the probe streams at full
    // partition parallelism, so the tiny key space never serializes the
    // pair work (salting was measured slower — replication cost, no
    // parallelism gain under a broadcast join). The histogram is
    // inherently O(pairs) per kind; the 100 TB path is uniform PAIR
    // sampling, not banding — a similarity histogram needs the whole
    // distance distribution, not just the near neighbors.
    val a = feats.selectExpr("kind", "media_id AS da", "fv AS fa", "nrm AS na")
    val b = feats.selectExpr("kind", "media_id AS db", "fv AS fb", "nrm AS nb")
    Held(a.join(b, Seq("kind")).filter(col("da") < col("db"))
      .withColumn("cos", round(vecDot(col("fa"), col("fb")) / (col("na") * col("nb")), 4))
      .select(col("kind"),
        floor(col("cos") * 100).cast("int").as("bucket_pct"))
      .groupBy("kind", "bucket_pct")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("kind", "bucket_pct"), featsH)
  }

  /** Cross-media duplicate FRAMES — the media lake's segment-level dedup
    * (shared intros/outros/watermark stills recur across otherwise
    * distinct assets): sample frames through the real typed operator,
    * hash the frame bytes, and report every frame fingerprint seen more
    * than once with its spread. Same shuffle shape as doc-level exact
    * dedup — one groupBy on the uniform md5 key — but at frame grain, so
    * the 100 TB cost is O(frames) with no pair join anywhere. The corpus
    * is staged with a deterministic RE-INGESTED COPY of every 7th asset
    * (same bytes, new id — the "same video uploaded twice" case) so the
    * collision set is non-trivial and exactly replayable. */
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = mediaFrom(s, dir)
    // id offset derived from the data so staged re-ingests can never
    // collide with real ids at ANY scale factor
    val off = base.toDF().agg((max("media_id") + 1).as("__off"))
    val copies = base.toDF().filter(col("media_id") % 7 === 0)
      .crossJoin(broadcast(off))
      .withColumn("media_id", col("media_id") + col("__off"))
      .drop("__off")
      .as[MediaFile]
    frameDedupOf(s, base.union(copies))
  }

  /** The frame-grain dedup over ANY staged media set. */
  /** CONTENT-level audio dedup — the step past [[mediaDedup]]'s byte
    * hashing: a crawl constantly re-serves the same audio under a
    * different tagging toolchain (identical PCM, different metadata
    * chunks), which byte-level md5 can never collapse. Every 7th doc
    * stages a re-tagged duplicate (same samples wrapped with a
    * LIST/INFO chunk — [[graft.multimodal.Codecs.encodeWavTagged]]); the
    * fingerprint is the 16-window |amplitude| profile of the DECODED
    * samples, so the tagged pair collapses to one content group while
    * its `n_blob_variants = 2` proves the blobs really differed at the
    * byte level. Row-local decode in a typed map, ONE shuffle on the
    * uniform fingerprint key — the same hash-groupBy scale shape as
    * exact dedup, at any corpus size. */
  def audioDedupContent(s: SparkSession, dir: String): DataFrame =
    contentDedupQuery(s, dir) { (_, text, _, tagged) =>
      import graft.multimodal.Codecs
      val N = 256; val Rate = 16000
      val txt = payloadBytes(text)
      val samples = Array.tabulate[Short](N)(i =>
        (((txt(i % txt.length) & 0xff) - 128) * 256).toShort)
      val blob =
        if (tagged) Codecs.encodeWavTagged(Rate, samples, "retag")
        else Codecs.encodeWav(Rate, samples)
      // fingerprint the DECODED samples of the staged container: the
      // tag-blindness comes from the decode path, not from the staging
      val (_, decoded) = Codecs.decodeWav(blob)
      ("wav:" + Codecs.windowAbsSum(decoded, 16).mkString(","), blob)
    }

  /** GAIN-INVARIANT audio dedup — the robustness rung above
    * [[audioDedupContent]]: that query's window-amplitude profile
    * collapses re-tagged bytes but NOT volume-scaled duplicates (every
    * window energy scales with the gain). This one fingerprints the
    * SIGN OF THE ENERGY DELTA between adjacent windows — the time-axis
    * core of the Haitsma-Kalker sub-fingerprint scheme (their full
    * scheme signs band-energy deltas in time AND frequency; mono PCM
    * with no filterbank keeps the time axis) — which any positive gain
    * leaves bit-identical, because scaling multiplies every window
    * energy by the same factor and never flips a comparison.
    *
    * Every 7th doc re-ingests at 2x volume (clipping-free by staging
    * headroom); the contract is that the scaled twin COLLAPSES into its
    * group (`n_copies` = 2, `n_blob_variants` = 2 proving the bytes
    * differed) while 63-bit fingerprints keep distinct content distinct.
    * Same ONE fingerprint-keyed shuffle as the content family. */
  def audioDedupRobust(s: SparkSession, dir: String): DataFrame =
    contentDedupQuery(s, dir) { (_, text, _, scaled) =>
      import graft.multimodal.Codecs
      val N = 256; val Rate = 16000
      val txt = payloadBytes(text)
      val g = if (scaled) 2 else 1
      val samples = Array.tabulate[Short](N)(i =>
        ((((txt(i % txt.length) & 0xff) - 128) * 128) * g).toShort)
      val blob = Codecs.encodeWav(Rate, samples)
      // fingerprint the DECODED samples: gain-invariance must hold on
      // what a reader actually extracts from the container
      val (_, decoded) = Codecs.decodeWav(blob)
      val e = Codecs.windowAbsSum(decoded, 64)
      val bits = new StringBuilder(e.length - 1)
      var i = 1
      while (i < e.length) {
        bits.append(if (e(i) > e(i - 1)) '1' else '0'); i += 1
      }
      ("hk:" + bits, blob)
    }

  /** CROSS-CONTAINER audio dedup — the strongest same-content transform
    * a crawl serves: the SAME PCM re-encoded into a different container
    * entirely (WAV one mirror, FLAC another). Byte hashing, tag-blind
    * hashing and even container-aware fingerprints keyed on the encoded
    * bytes all miss it; this fingerprints the DECODED samples through
    * the magic-sniffing dispatch, so the WAV original and its FLAC
    * re-encode (every 7th doc) collapse into one content group while
    * `n_blob_variants` = 2 proves the byte streams differ wildly. One
    * fingerprint-keyed shuffle, the exact-dedup scale shape. */
  def audioDedupCross(s: SparkSession, dir: String): DataFrame =
    contentDedupQuery(s, dir) { (_, text, _, reencoded) =>
      import graft.multimodal.{Codecs, Flac}
      val N = 256; val Rate = 16000
      val txt = payloadBytes(text)
      val samples = Array.tabulate[Short](N)(i =>
        (((txt(i % txt.length) & 0xff) - 128) * 256).toShort)
      val blob =
        if (reencoded) Flac.encode(Rate, Array(samples))
        else Codecs.encodeWav(Rate, samples)
      // decode through the container the blob actually is — the
      // fingerprint must come from what a reader extracts, not staging
      val decoded =
        if (Flac.isFlac(blob)) Flac.decode(blob)._2(0).map(_.toShort)
        else Codecs.decodeWav(blob)._2
      ("pcm:" + Codecs.windowAbsSum(decoded, 16).mkString(","), blob)
    }

  /** Shared scaffolding of the content-level dedup queries: the corpus
    * plus a data-offset re-ingested twin for every 7th doc (the offset
    * derives from the data so staged ids never collide at ANY scale
    * factor), the row-local (fingerprint, blob) stager, then ONE groupBy
    * on the content fingerprint with byte-level variant accounting —
    * the audio and video queries differ only in the stager. */
  private def contentDedupQuery(s: SparkSession, dir: String)(
      stage: (Long, String, Long, Boolean) => (String, Array[Byte]))
      : DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"), col("text"), col("n_chars"),
        lit(false).as("dup"))
    val off = base.agg((max("media_id") + 1).as("__off"))
    val dups = base.filter(col("media_id") % 7 === 0)
      .crossJoin(broadcast(off))
      .select((col("media_id") + col("__off")).as("media_id"), col("text"),
        col("n_chars"), lit(true).as("dup"))
    base.unionByName(dups)
      .as[(Long, String, Long, Boolean)]
      .map { case (id, text, nChars, dup) =>
        val (fp, blob) = stage(id, text, nChars, dup)
        (id, fp, blob)
      }
      .toDF("media_id", "fp_str", "content")
      .select(col("media_id"),
        md5(col("fp_str").cast("binary")).as("content_md5"),
        md5(col("content")).as("blob_md5"))
      .groupBy("content_md5")
      .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct("blob_md5").as("n_blob_variants"))
      .select("keep_id", "n_copies", "n_blob_variants", "content_md5")
      .orderBy("keep_id")
  }

  /** CONTENT-level VIDEO dedup — [[audioDedupContent]]'s sibling for the
    * container axis a crawl hits constantly: the faststart remux
    * (ftyp·moov·mdat ↔ ftyp·mdat·moov) re-serves identical samples under
    * different bytes. Every 7th doc stages the remuxed twin; the
    * fingerprint is the per-sample energy profile read THROUGH the
    * sample table (stsz/stco — [[graft.multimodal.Mp4.sampleEnergies]]),
    * so it is layout-blind by construction, and `n_blob_variants = 2`
    * proves the blobs differed. One fingerprint-keyed shuffle. */
  def videoDedupContent(s: SparkSession, dir: String): DataFrame =
    contentDedupQuery(s, dir) { (_, text, nChars, remuxed) =>
      import graft.multimodal.Mp4
      val txt = payloadBytes(text)
      // the media_frames chunking: one sample per 5s of derived runtime
      val n = math.max(1, (nChars * 10 / 5000).toInt)
      val chunk = math.max(1, txt.length / n)
      val samples = (0 until n).map { i =>
        val from = math.min(i * chunk, txt.length)
        val until = math.min(i * chunk + chunk, txt.length)
        java.util.Arrays.copyOfRange(txt, from, until)
      }
      val blob = Mp4.buildWithSamples("isom", 1000L,
        Seq(Mp4.Mp4Track("vide", (nChars % 640).toInt,
          (nChars % 480).toInt, nChars * 10)),
        samples, moovFirst = !remuxed)
      ("mp4:" + Mp4.sampleEnergies(blob).mkString(","), blob)
    }

  def frameDedupOf(s: SparkSession, media: Dataset[MediaFile]): DataFrame =
    Multimodal.sampleFrames(media, everyMs = 5000)
      .select(col("media_id"), md5(col("content")).as("frame_md5"))
      .groupBy("frame_md5")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct("media_id").as("n_media"),
        min("media_id").as("first_media"))
      .filter(col("n_frames") > 1)
      .orderBy("frame_md5")

  /** Expected-pair budget for [[mediaNeardupSampled]]: the keep
    * probability is DERIVED from this, not pinned — p = min(1,
    * √(2·budget / n(n−1))), so the sampled pair count stays ≈ the budget
    * (conservatively: within-kind pairs ≤ all pairs) no matter how large
    * the corpus grows. At 10× the docs, p falls ~10× and the quadratic
    * stage does the SAME work — the corpus size bounds nothing. */
  private val NeardupPairBudget = 20000L

  /** The SAMPLED similarity histogram — [[mediaNeardup]]'s documented
    * 100 TB path made concrete: docs are kept by a DETERMINISTIC md5 coin
    * (replayable in the oracle) whose rate p = min(1, √(2·budget/n(n−1)))
    * is derived from [[NeardupPairBudget]] and the corpus count INSIDE
    * the plan (a single-row broadcast — expected sampled pairs ≈
    * p²·C(n,2) ≈ the budget, and no eager scan at plan build). Pairs form
    * only within the sample, and the histogram is the unbiased shape
    * estimate whose cost is bounded by the PAIR BUDGET, not the corpus
    * size. The exact twin stays the correctness baseline; this is the
    * plan a 1000-executor run ships. */
  def mediaNeardupSampled(s: SparkSession, dir: String): Held = {
    import graft.functions.GraftFunctions.{byteFold, vecDot}
    val media = mediaFrom(s, dir).toDF()
    // p derived IN-PLAN from the corpus count (single-row broadcast) —
    // no driver-side eager scan at plan-build time, and the identical
    // IEEE-double expression tree as the oracle's `pp` CTE
    val pRow = media.agg(count(lit(1)).as("__n"))
      .select(when(col("__n") < 2, lit(1.0)).otherwise(
        least(lit(1.0), sqrt(lit(2.0) * lit(NeardupPairBudget) /
          (col("__n") * (col("__n") - lit(1.0)))))).as("__p"))
    // both sides of the within-kind pair join
    val Held(feats, featsH) = Held.cached(media
      .crossJoin(broadcast(pRow))
      .filter(graft.functions.GraftFunctions.md5Coin(col("media_id")) <
        col("__p"))
      .select(col("media_id"), col("kind"), col("content"))
      // same one-pass ByteFold kernel as the exact twin (ASCII corpus ⇒
      // byte sums equal the oracle's per-character ascii() sums)
      .withColumn("fv", byteFold(col("content"), 16).cast("array<double>"))
      .drop("content")
      .withColumn("nrm", sqrt(vecDot(col("fv"), col("fv"))))
      .select("media_id", "kind", "fv", "nrm"))
    val a = feats.selectExpr("kind", "media_id AS da", "fv AS fa", "nrm AS na")
    val b = feats.selectExpr("kind", "media_id AS db", "fv AS fb", "nrm AS nb")
    Held(a.join(b, Seq("kind")).filter(col("da") < col("db"))
      .withColumn("cos", round(vecDot(col("fa"), col("fb")) / (col("na") * col("nb")), 4))
      .select(col("kind"),
        floor(col("cos") * 100).cast("int").as("bucket_pct"))
      .groupBy("kind", "bucket_pct")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("kind", "bucket_pct"), featsH)
  }

  /** PPM codec ROUNDTRIP proof, cross-engine: stage 16x16 RGB images with
    * pixel bytes cycled from the doc text, push them through the REAL
    * binary-PPM encoder AND decoder ([[graft.multimodal.Codecs]]), then a
    * REAL nearest-neighbor resize to 8x8, and emit integer grid-luminance
    * masses from the DECODED pixels. The DuckDB oracle never sees a PPM
    * byte — it computes the expected cell sums from `documents.text`
    * directly — so hash parity proves decode(encode(x)) == x, header
    * grammar included, and that the resize kernel samples exactly the
    * floor-mapped source pixels. Decode is row-local typed-map work (the
    * multimodal decode path); the output is 16 small rows per image. */
  def ppmCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Codecs
    val W = 16; val H = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val txt = payloadBytes(text) // ASCII; "." sentinel if empty
        val rgb = Array.tabulate[Byte](W * H * 3)(k => txt(k % txt.length))
        val blob = Codecs.encodePpm(W, H, rgb) // real encode...
        val (w, h, px) = Codecs.decodePpm(blob) // ...and real decode
        val full = Codecs.gridLuminance(w, h, px, 4, 4)
        val small = Codecs.resizeNearest(w, h, px, 8, 8) // real NN resize
        val rz = Codecs.gridLuminance(8, 8, small, 4, 4)
        full.indices.map(cell =>
          (id, cell.toLong, full(cell), rz(cell)))
      }
      .toDF("media_id", "cell", "lum_sum", "lum_sum_8x8")
      .orderBy("media_id", "cell")
  }

  /** PNG codec ROUNDTRIP proof, cross-engine: the [[ppmCodec]] contract
    * run through the REAL PNG container (signature + IHDR + zlib IDAT +
    * CRC-checked chunks) — stage 16x16 RGB images with pixel bytes cycled
    * from the doc text, encode as 8-bit truecolor PNG and decode it
    * again (ImageIO codes both directions, after a CRC walk over the
    * chunks), resize, and emit integer grid-luminance masses from the
    * DECODED pixels. The oracle computes expected sums from text and
    * never sees a PNG byte: hash parity proves decode(encode(x)) == x
    * through the deflate and scanline-filter round trip. Also routes
    * each blob through [[graft.multimodal.Multimodal.decode]]'s magic
    * dispatch (the feature path a real lake runs) and checks the PNG
    * branch fired by re-deriving one grid cell from it. */
  def pngCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Codecs
    val W = 16; val H = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val txt = payloadBytes(text) // ASCII; "." sentinel if empty
        val rgb = Array.tabulate[Byte](W * H * 3)(k => txt(k % txt.length))
        val blob = Codecs.encodePng(W, H, rgb) // real encode...
        val (w, h, px) = Codecs.decodePng(blob) // ...and real decode
        val full = Codecs.gridLuminance(w, h, px, 4, 4)
        val small = Codecs.resizeNearest(w, h, px, 8, 8)
        val rz = Codecs.gridLuminance(8, 8, small, 4, 4)
        // the dispatch path: Multimodal.decode must route to the PNG
        // branch (cell 0 mean luminance re-quantized to the exact sum —
        // 4x4 pixels of 3 samples, so mean·(16·3·255) is integral)
        val f0 = graft.multimodal.Multimodal.decode(blob)(0)
        val viaDispatch = math.round(f0.toDouble * (16 * 3 * 255))
        full.indices.map(cell =>
          (id, cell.toLong, full(cell), rz(cell),
            if (cell == 0) viaDispatch else full(cell)))
      }
      .toDF("media_id", "cell", "lum_sum", "lum_sum_8x8", "lum_sum_dispatch")
      .orderBy("media_id", "cell")
  }

  /** WAV codec ROUNDTRIP proof, cross-engine: stage 256-sample 16-bit PCM
    * mono clips (sample i = (textByte − 128)·256), push them through the
    * REAL RIFF/WAVE encoder and chunk-walking decoder, and emit integer
    * per-window |amplitude| masses from the DECODED samples plus the
    * header fields read back from the file. The oracle recomputes from
    * text — parity proves the PCM bytes and the fmt chunk survive the
    * container roundtrip bit-exactly. */
  def wavCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Codecs
    val N = 256; val Rate = 16000
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val txt = payloadBytes(text)
        val samples = Array.tabulate[Short](N)(i =>
          (((txt(i % txt.length) & 0xff) - 128) * 256).toShort)
        val blob = Codecs.encodeWav(Rate, samples)
        val (rate, decoded) = Codecs.decodeWav(blob)
        val wins = Codecs.windowAbsSum(decoded, 16)
        wins.indices.map(w => (id, w.toLong, wins(w),
          rate.toLong, decoded.length.toLong))
      }
      .toDF("media_id", "win", "abs_sum", "sample_rate", "n_samples")
      .orderBy("media_id", "win")
  }

  protected val direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ppm_codec" -> ppmCodec,
    "png_codec" -> pngCodec,
    "jpeg_codec" -> jpegCodec,
    "jpeg_progressive" -> jpegProgressive,
    "jpeg_exif_meta" -> jpegExifMeta,
    "gif_codec" -> gifCodec,
    "webp_codec" -> webpCodec,
    "mp4_meta" -> mp4Meta,
    "webp_meta" -> webpMeta,
    "mp3_meta" -> mp3Meta,
    "wav_codec" -> wavCodec,
    "flac_codec" -> flacCodec,
    "media_frames" -> mediaFrames,
    "media_meta" -> mediaMeta,
    "media_dedup" -> mediaDedup,
    "audio_dedup_content" -> audioDedupContent,
    "audio_dedup_robust" -> audioDedupRobust,
    "audio_dedup_cross" -> audioDedupCross,
    "video_dedup_content" -> videoDedupContent,
    "frame_dedup" -> frameDedup)

  override val held: Map[String, (SparkSession, String) => Held] = Map(
    "media_neardup" -> mediaNeardup,
    "media_neardup_sampled" -> mediaNeardupSampled)

  /** Blob-level exact dedup: hash-groupBy on the binary content (the same
    * shuffle-on-uniform-hash shape as LlmData.dedupExact) — how a media
    * lake drops byte-identical assets regardless of their metadata. The
    * md5 runs over the raw blob bytes; no decode needed. */
  def mediaDedup(s: SparkSession, dir: String): DataFrame =
    mediaFrom(s, dir).toDF()
      .groupBy(md5(col("content")).as("blob_md5"), col("kind"))
      .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "kind", "n_copies", "blob_md5")
      .orderBy("keep_id")

  /** MP4/BMFF container-metadata contract, cross-engine: stage each doc
    * as a minimal-but-valid ISO BMFF tree (ftyp + moov/mvhd + a video
    * and an audio trak) whose parameters derive deterministically from
    * the doc's fields, walk it back through the REAL box parser
    * ([[graft.multimodal.Mp4]] — bounds-checked sizes, 16.16 fixed-point
    * geometry, fullbox versions), and emit the parsed values. The DuckDB
    * oracle computes the expected numbers straight from `documents` and
    * never sees a box — hash parity proves parse(build(x)) == x, box
    * length accounting and fixed-point math included. This is the
    * metadata triage a lake runs on every crawled video before spending
    * decode cycles; sample decoding stays the documented stub path. */
  def mp4Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Mp4
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = (nChars % 640).toInt; val h = (nChars % 480).toInt
        val blob = Mp4.build("isom", 1000L, Seq(
          Mp4.Mp4Track("vide", w, h, nChars * 10),
          Mp4.Mp4Track("soun", 0, 0, nChars * 7)))
        val m = Mp4.parseMeta(blob)
        val v = m.tracks.find(_.handler == "vide").get
        val a = m.tracks.find(_.handler == "soun").get
        (id, m.brand, m.timescale, m.duration,
          v.width.toLong, v.height.toLong, a.duration,
          m.tracks.length.toLong)
      }
      .toDF("media_id", "brand", "timescale", "duration_ms",
        "video_w", "video_h", "audio_duration_ms", "n_tracks")
      .orderBy("media_id")
  }

  /** WebP container-metadata contract, cross-engine: each doc stages as
    * one of the three container shapes (doc_id mod 3 cycles lossy VP8 /
    * lossless VP8L / extended VP8X with alpha still or animation), all
    * parameters derived deterministically from the doc's fields, then
    * walked back through the REAL chunk parser
    * ([[graft.multimodal.Webp]] — bounds-checked RIFF walk, start codes
    * and signatures verified). The oracle recomputes every expected value
    * straight from `documents` and never sees a WebP byte, so parity
    * proves the build→parse identity. Row-local typed-map work —
    * embarrassingly parallel, no shuffle but the final sort. */
  def webpMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Webp
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = (nChars % 640).toInt + 1; val h = (nChars % 480).toInt + 1
        val blob = (id % 3) match {
          case 0 => Webp.buildLossy(w, h)
          case 1 => Webp.buildLossless(w, h, alpha = nChars % 2 == 0)
          case _ =>
            val animated = nChars % 2 == 0
            Webp.buildExtended(w, h, alpha = !animated, animated = animated,
              nFrames = (nChars % 4).toInt + 1)
        }
        val m = Webp.parseMeta(blob)
        (id, m.format, m.width.toLong, m.height.toLong,
          if (m.hasAlpha) 1L else 0L, if (m.animated) 1L else 0L,
          m.nFrames.toLong, m.nChunks.toLong)
      }
      .toDF("media_id", "format", "width", "height", "has_alpha",
        "animated", "n_frames", "n_chunks")
      .orderBy("media_id")
  }

  /** GIF codec ROUNDTRIP proof, cross-engine: the [[pngCodec]] contract
    * through the REAL GIF container — GIF is palette-LOSSLESS, so unlike
    * JPEG the oracle checks exact pixel mass. Stage 16x16 frames whose
    * palette INDICES cycle from the doc text over a grayscale identity
    * palette, encode and decode through ImageIO's LZW writer and reader,
    * nearest-neighbor resize
    * in INDEX space, and emit integer grid-luminance masses from the
    * DECODED pixels (gray pixel b contributes 3·b). The DuckDB oracle
    * computes expected sums straight from `documents.text` and never
    * sees a GIF byte — parity proves decode∘encode = id, LZW and
    * sub-block grammar included. Cell 0 additionally re-derives from the
    * [[Multimodal.decode]] dispatch features, pinning magic routing. */
  def gifCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Gif
    val W = 16; val H = 16
    val palette = Array.tabulate[Byte](768)(i => (i / 3).toByte)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val txt = payloadBytes(text) // ASCII; "." sentinel if empty
        val idx = Array.tabulate[Byte](W * H)(k => txt(k % txt.length))
        val blob = Gif.encode(W, H, idx, palette) // real encode...
        val (w, h, px) = Gif.decode(blob)         // ...and real decode
        val full = graft.multimodal.Codecs.gridLuminance(w, h, px, 4, 4)
        val (rw, rh, ri, rt) = Gif.decodeIndexed(blob)
        val small = Gif.encode(8, 8, Gif.resizeIndexed(rw, rh, ri, 8, 8),
          java.util.Arrays.copyOf(rt, 768))
        val (sw, sh, spx) = Gif.decode(small)
        val rz = graft.multimodal.Codecs.gridLuminance(sw, sh, spx, 4, 4)
        val f0 = graft.multimodal.Multimodal.decode(blob)(0)
        val viaDispatch = math.round(f0.toDouble * (16 * 3 * 255))
        full.indices.map(cell =>
          (id, cell.toLong, full(cell), rz(cell),
            if (cell == 0) viaDispatch else full(cell)))
      }
      .toDF("media_id", "cell", "lum_sum", "lum_sum_8x8", "lum_sum_dispatch")
      .orderBy("media_id", "cell")
  }

  /** Lossless-WebP (VP8L) codec ROUNDTRIP proof, cross-engine: the
    * [[pngCodec]] contract through the REAL RIFF/WEBP container and the
    * full [[graft.multimodal.Vp8l]] bitstream — prefix codes through the
    * code-length machinery, palette (color-indexing, sub-byte bundling)
    * or subtract-green path picked per image by its distinct-color count,
    * so BOTH encoder paths and their inverse transforms run across the
    * corpus. The 8x8 resize is re-encoded and re-decoded through VP8L a
    * second time (the GIF double-roundtrip pattern). The DuckDB oracle
    * computes expected sums straight from `documents.text` and never
    * sees a WebP byte — parity proves decode∘encode = id bit-exactly.
    * Cell 0 re-derives from [[Multimodal.decode]], pinning the dispatch
    * away from the stub for lossless WebP. */
  def webpCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Codecs, Webp}
    val W = 16; val H = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val txt = payloadBytes(text) // ASCII; "." sentinel if empty
        val rgb = Array.tabulate[Byte](W * H * 3)(k => txt(k % txt.length))
        val blob = Webp.buildLosslessPixels(W, H, rgb) // real encode...
        val (w, h, px) = Webp.decodeLossless(blob)     // ...and decode
        val full = Codecs.gridLuminance(w, h, px, 4, 4)
        val small = Webp.decodeLossless(Webp.buildLosslessPixels(
          8, 8, Codecs.resizeNearest(w, h, px, 8, 8)))._3
        val rz = Codecs.gridLuminance(8, 8, small, 4, 4)
        val f0 = graft.multimodal.Multimodal.decode(blob)(0)
        val viaDispatch = math.round(f0.toDouble * (16 * 3 * 255))
        full.indices.map(cell =>
          (id, cell.toLong, full(cell), rz(cell),
            if (cell == 0) viaDispatch else full(cell)))
      }
      .toDF("media_id", "cell", "lum_sum", "lum_sum_8x8", "lum_sum_dispatch")
      .orderBy("media_id", "cell")
  }

  /** FLAC codec ROUNDTRIP proof, cross-engine: the [[wavCodec]] contract
    * through the REAL compressed-lossless tier — stage the same
    * 256-sample 16-bit PCM clips (sample i = (textByte − 128)·256), push
    * them through the full [[graft.multimodal.Flac]] encoder (fixed
    * prediction + Rice residuals, CRC-8/16 + STREAMINFO MD5) and the
    * frame decoder, and emit integer per-window |amplitude| masses from
    * the DECODED samples plus the STREAMINFO fields read back. The
    * oracle recomputes everything from text and never sees a FLAC
    * byte — parity proves decode∘encode = id sample-exactly through
    * prediction, residual coding and both CRCs. Window 0 additionally
    * re-derives from [[Multimodal.decode]]'s dispatch (mean·count·2^15
    * is integral), pinning FLAC to the real-samples side of the decode
    * boundary. */
  def flacCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Flac
    val N = 256; val Rate = 16000
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val txt = payloadBytes(text)
        val samples = Array.tabulate[Short](N)(i =>
          (((txt(i % txt.length) & 0xff) - 128) * 256).toShort)
        val blob = Flac.encode(Rate, Array(samples))
        val (meta, chans) = Flac.decode(blob)
        val decoded = chans(0).map(_.toShort)
        val wins = graft.multimodal.Codecs.windowAbsSum(decoded, 16)
        val f0 = graft.multimodal.Multimodal.decode(blob)(0)
        val viaDispatch = math.round(f0.toDouble * 16 * 32768)
        wins.indices.map(w => (id, w.toLong, wins(w),
          if (w == 0) viaDispatch else wins(w),
          meta.sampleRate.toLong, meta.totalSamples, meta.channels.toLong))
      }
      .toDF("media_id", "win", "abs_sum", "abs_sum_dispatch",
        "sample_rate", "n_samples", "n_channels")
      .orderBy("media_id", "win")
  }

  /** EXIF/ICC triage + strip contract, cross-engine: every doc's staged
    * JPEG gains an APP1/Exif segment (little-endian TIFF, orientation
    * derived from doc_id) and every 3rd doc an APP2/ICC_PROFILE segment;
    * the REAL segment walker ([[graft.multimodal.Jpeg.exifMeta]]) reads
    * them back, and [[graft.multimodal.Jpeg.stripMetadata]] — the
    * PII-scrub step for media blobs — must remove every metadata
    * segment while leaving the decoded pixels BIT-IDENTICAL (the coding
    * segments and entropy tail pass through verbatim). The oracle
    * replays orientation/flags/byte deltas as doc_id arithmetic plus the
    * shared segment-size constants, and never sees a JPEG byte. */
  def jpegExifMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Jpeg
    val W = 16; val H = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val txt = payloadBytes(text)
        val rgb = Array.tabulate[Byte](W * H * 3)(k => txt(k % txt.length))
        val base = Jpeg.encode(W, H, rgb, quality = 85)
        val orient = (id % 8).toInt + 1
        val icc = id % 3 == 0
        val tagged = Jpeg.withExif(base, orient, icc)
        val m = Jpeg.exifMeta(tagged)
        val stripped = Jpeg.stripMetadata(tagged)
        val m2 = Jpeg.exifMeta(stripped)
        val pixEq = java.util.Arrays.equals(
          Jpeg.decode(tagged)._3, Jpeg.decode(stripped)._3)
        (id, if (m.hasExif) 1L else 0L, m.orientation.toLong,
          if (m.hasIcc) 1L else 0L,
          (tagged.length - stripped.length).toLong,
          if (m2.hasExif || m2.hasIcc) 1L else 0L,
          if (pixEq && stripped.length == base.length) 1L else 0L)
      }
      .toDF("media_id", "has_exif", "orientation", "has_icc",
        "meta_bytes", "stripped_has_meta", "pixels_equal")
      .orderBy("media_id")
  }

  /** MP3 frame-walker contract, cross-engine (the [[mp4Meta]] pattern on
    * the audio side): stage each doc as a structurally valid CBR MPEG-1
    * Layer III stream — an ID3v2 tag wrapping the doc's text prefix plus
    * a doc-derived number of frames over the bitrate/samplerate grid —
    * walk it back through the REAL header parser (sync validation,
    * syncsafe ID3 skip, per-frame length accounting), and emit the
    * parsed values. The oracle computes expectations from `documents`
    * and never sees a frame — parity proves parse(build(x)) == x. */
  def mp3Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Mp3
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), col("text"))
      .as[(Long, Long, String)]
      .map { case (id, nChars, text) =>
        val blob = Mp3.build(
          frames = (nChars % 20).toInt + 1,
          bitrateIdx = (nChars % 14).toInt + 1,
          sampleRateIdx = (nChars % 3).toInt,
          tagText = (if (text.isEmpty) "." else text).take(40))
        val m = Mp3.parseMeta(blob)
        (id, m.frames, m.bitrateKbps.toLong, m.sampleRate.toLong,
          m.durationMs, m.id3Bytes)
      }
      .toDF("media_id", "frames", "bitrate_kbps", "sample_rate",
        "duration_ms", "id3_bytes")
      .orderBy("media_id")
  }

  /** JPEG codec contract, cross-engine: stage 16x16 RGB images with pixel
    * bytes cycled from the doc text, push them through the baseline 4:4:4
    * JFIF encoder AND decoder ([[graft.multimodal.Jpeg]], ImageIO), and emit
    * CLAIMS the DuckDB oracle replays as constants — JPEG is lossy, so
    * the roundtrip contract is exact metadata plus bounded error, not
    * byte identity (JpegSpec carries the PSNR calibration):
    *   - width/height: decoded dimensions, byte-exact (16, 16);
    *   - lum_ok: the decoded image's total luminance mass within 2/255
    *     per sample of the source's (the DC coefficients survive
    *     quantization) — the oracle computes the SOURCE mass from text;
    *   - psnr_ok: decoded-vs-source PSNR above the q85 floor;
    *   - dispatch_ok: Multimodal.decode routed the blob through the JPEG
    *     branch (features equal the decoded image's grid luminance).
    * A codec regression flips a flag or a dimension and the row hash
    * diverges loudly. */
  def jpegCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Codecs, Jpeg}
    val W = 16; val H = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val txt = payloadBytes(text) // ASCII; "." sentinel if empty
        val rgb = Array.tabulate[Byte](W * H * 3)(k => txt(k % txt.length))
        val blob = Jpeg.encode(W, H, rgb, quality = 85) // real encode...
        val (w, h, px) = Jpeg.decode(blob)              // ...and decode
        def lum(p: Array[Byte]): Double = {
          var m = 0.0; var i = 0
          while (i < p.length / 3) {
            m += 0.299 * (p(3 * i) & 0xff) + 0.587 * (p(3 * i + 1) & 0xff) +
              0.114 * (p(3 * i + 2) & 0xff)
            i += 1
          }
          m
        }
        var se = 0.0
        var i = 0
        while (i < px.length) {
          val d = (px(i) & 0xff) - (rgb(i) & 0xff); se += d.toDouble * d
          i += 1
        }
        val psnr =
          if (se == 0) Double.PositiveInfinity
          else 10 * math.log10(255.0 * 255.0 * px.length / se)
        val lumOk = math.abs(lum(px) - lum(rgb)) <= 2.0 * W * H
        val feats = graft.multimodal.Multimodal.decode(blob)
        val cells = Codecs.gridLuminance(w, h, px, 4, 4)
        val dispatchOk = feats.indices.forall(c =>
          feats(c) == (cells(c).toDouble / (16L * 3 * 255)).toFloat)
        (id, w.toLong, h.toLong, if (psnr > 18.0) 1L else 0L,
          if (lumOk) 1L else 0L, if (dispatchOk) 1L else 0L)
      }
      .toDF("media_id", "width", "height", "psnr_ok", "lum_ok", "dispatch_ok")
      .orderBy("media_id")
  }

  /** Progressive-JPEG (SOF2) contract, cross-engine: the staged image is
    * encoded TWICE — baseline SOF0 and progressive SOF2 (same quantized
    * coefficients) — and both streams decoded through
    * [[graft.multimodal.Jpeg]] (ImageIO). Because the coefficients are
    * identical, the two decodes
    * must agree pixel-for-pixel (`prog_exact`), the SOF2 marker must
    * actually be present (`sof2_ok` — or the test silently degrades to
    * the sequential path), and the progressive stream must route through
    * dispatch. Most real crawl JPEGs are progressive; this is the row
    * that proves the triage path reads them. Row-local codec work in a
    * typed map — embarrassingly parallel, no shuffle but the final sort. */
  def jpegProgressive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Jpeg
    val W = 16; val H = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val txt = payloadBytes(text) // ASCII; "." sentinel if empty
        val rgb = Array.tabulate[Byte](W * H * 3)(k => txt(k % txt.length))
        val prog = Jpeg.encodeProgressive(W, H, rgb, quality = 85)
        val sof2 = prog.indices.dropRight(1).exists(i =>
          (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc2)
        val (w, h, px) = Jpeg.decode(prog)
        val (_, _, base) = Jpeg.decode(Jpeg.encode(W, H, rgb, quality = 85))
        val exact = java.util.Arrays.equals(px, base)
        val feats = graft.multimodal.Multimodal.decode(prog)
        val dispatchOk = feats.length == graft.multimodal.Multimodal.featureDim
        (id, w.toLong, h.toLong,
          if (sof2) 1L else 0L, if (exact) 1L else 0L,
          if (dispatchOk) 1L else 0L)
      }
      .toDF("media_id", "width", "height", "sof2_ok",
        "prog_exact", "dispatch_ok")
      .orderBy("media_id")
  }

  val oracle: Map[String, String] = Map(
    "mp3_meta" ->
      // staging parameters are pure functions of n_chars/text; the tag
      // text is ASCII so its UTF-8 byte length equals its char length
      """SELECT doc_id AS media_id, (n_chars % 20) + 1 AS frames,
        | list_value(32,40,48,56,64,80,96,112,128,160,192,224,256,320)
        |   [(n_chars % 14) + 1] AS bitrate_kbps,
        | list_value(44100,48000,32000)[(n_chars % 3) + 1] AS sample_rate,
        | ((n_chars % 20) + 1) * 1152 * 1000
        |   // list_value(44100,48000,32000)[(n_chars % 3) + 1] AS duration_ms,
        | 10 + least(40, greatest(1, length(text))) AS id3_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "audio_dedup_content" ->
      // the oracle recomputes the decoded-sample window profile straight
      // from the text (it never sees a WAV byte) and models blob identity
      // exactly: a blob is determined by (tagged, signed sample string)
      """WITH d0 AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   FALSE AS tagged FROM documents),
        | m AS (SELECT * FROM d0
        |  UNION ALL
        |  SELECT media_id + (SELECT max(media_id) + 1 FROM d0) AS media_id,
        |   text, TRUE AS tagged FROM d0 WHERE media_id % 7 = 0),
        | s AS (SELECT media_id, tagged, i,
        |   ((ord(substr(text, (i % length(text)) + 1, 1)) - 128) * 256)
        |     ::BIGINT AS v
        |  FROM m, unnest(generate_series(0, 255)) AS u(i)),
        | w AS (SELECT media_id, i // 16 AS win, sum(abs(v))::BIGINT AS sm
        |  FROM s GROUP BY 1, 2),
        | k1 AS (SELECT media_id,
        |   md5('wav:' || string_agg(sm::VARCHAR, ',' ORDER BY win))
        |     AS content_md5
        |  FROM w GROUP BY media_id),
        | k2 AS (SELECT media_id, tagged,
        |   string_agg(v::VARCHAR, ',' ORDER BY i) AS sk
        |  FROM s GROUP BY media_id, tagged)
        |SELECT min(media_id) AS keep_id, count(*)::BIGINT AS n_copies,
        | count(DISTINCT (CASE WHEN tagged THEN 't:' ELSE 'u:' END) || sk)
        |   ::BIGINT AS n_blob_variants,
        | content_md5
        |FROM k1 JOIN k2 USING (media_id)
        |GROUP BY content_md5 ORDER BY keep_id""".stripMargin,
    "audio_dedup_cross" ->
      // the fingerprint is container-free (decoded-sample window
      // profile), so the oracle computes it once from text; blob
      // identity is modeled exactly: WAV and FLAC encodings of the same
      // samples are always distinct byte streams, so a group with a
      // re-encoded twin counts 2 variants
      """WITH d0 AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   FALSE AS reenc FROM documents),
        | m AS (SELECT * FROM d0
        |  UNION ALL
        |  SELECT media_id + (SELECT max(media_id) + 1 FROM d0) AS media_id,
        |   text, TRUE AS reenc FROM d0 WHERE media_id % 7 = 0),
        | s AS (SELECT media_id, reenc, i,
        |   ((ord(substr(text, (i % length(text)) + 1, 1)) - 128) * 256)
        |     ::BIGINT AS v
        |  FROM m, unnest(generate_series(0, 255)) AS u(i)),
        | w AS (SELECT media_id, i // 16 AS win, sum(abs(v))::BIGINT AS sm
        |  FROM s GROUP BY 1, 2),
        | k1 AS (SELECT media_id,
        |   md5('pcm:' || string_agg(sm::VARCHAR, ',' ORDER BY win))
        |     AS content_md5
        |  FROM w GROUP BY media_id),
        | k2 AS (SELECT media_id, reenc,
        |   (CASE WHEN reenc THEN 'flac:' ELSE 'wav:' END) ||
        |     string_agg(v::VARCHAR, ',' ORDER BY i) AS sk
        |  FROM s GROUP BY media_id, reenc)
        |SELECT min(media_id) AS keep_id, count(*)::BIGINT AS n_copies,
        | count(DISTINCT sk)::BIGINT AS n_blob_variants,
        | content_md5
        |FROM k1 JOIN k2 USING (media_id)
        |GROUP BY content_md5 ORDER BY keep_id""".stripMargin,
    "audio_dedup_robust" ->
      // the gain-invariant fingerprint: the oracle signs the adjacent
      // 64-window energy deltas (gain cancels in every comparison, so the
      // bit string is computed WITHOUT the gain) and models blob identity
      // exactly — a blob is determined by the gain-scaled sample string,
      // so the 2x twin always counts as a second variant
      """WITH d0 AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   FALSE AS scaled FROM documents),
        | m AS (SELECT * FROM d0
        |  UNION ALL
        |  SELECT media_id + (SELECT max(media_id) + 1 FROM d0) AS media_id,
        |   text, TRUE AS scaled FROM d0 WHERE media_id % 7 = 0),
        | s AS (SELECT media_id, scaled, i,
        |   ((ord(substr(text, (i % length(text)) + 1, 1)) - 128) * 128)
        |     ::BIGINT AS v
        |  FROM m, unnest(generate_series(0, 255)) AS u(i)),
        | w AS (SELECT media_id, i // 4 AS win, sum(abs(v))::BIGINT AS sm
        |  FROM s GROUP BY 1, 2),
        | bits AS (SELECT media_id, win, sm,
        |   lag(sm) OVER (PARTITION BY media_id ORDER BY win) AS prev
        |  FROM w),
        | k1 AS (SELECT media_id,
        |   md5('hk:' || string_agg(CASE WHEN sm > prev THEN '1' ELSE '0' END,
        |     '' ORDER BY win)) AS content_md5
        |  FROM bits WHERE prev IS NOT NULL GROUP BY media_id),
        | k2 AS (SELECT media_id, scaled,
        |   string_agg((v * CASE WHEN scaled THEN 2 ELSE 1 END)::VARCHAR,
        |     ',' ORDER BY i) AS sk
        |  FROM s GROUP BY media_id, scaled)
        |SELECT min(media_id) AS keep_id, count(*)::BIGINT AS n_copies,
        | count(DISTINCT sk)::BIGINT AS n_blob_variants,
        | content_md5
        |FROM k1 JOIN k2 USING (media_id)
        |GROUP BY content_md5 ORDER BY keep_id""".stripMargin,
    "video_dedup_content" ->
      // the oracle recomputes the per-sample energy profile straight
      // from the text chunking (it never sees a box) and models blob
      // identity EXACTLY: a blob is determined by (remuxed layout,
      // n_chars, the COVERED text bytes) — the floor chunking drops the
      // last len % n bytes from the mdat, so keying on the full text
      // would over-distinguish byte-identical blobs
      """WITH d0 AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   n_chars, FALSE AS remuxed FROM documents),
        | m AS (SELECT * FROM d0
        |  UNION ALL
        |  SELECT media_id + (SELECT max(media_id) + 1 FROM d0) AS media_id,
        |   text, n_chars, TRUE AS remuxed FROM d0 WHERE media_id % 7 = 0),
        | q AS (SELECT media_id, text, n_chars, remuxed, len,
        |   greatest(1, len // n) AS chunk, n FROM (
        |    SELECT *, greatest(1, (n_chars * 10) // 5000) AS n,
        |     length(text) AS len FROM m)),
        | f AS (SELECT media_id, text, i,
        |   least(i * chunk, len) AS f_from,
        |   least(i * chunk + chunk, len) AS f_until
        |  FROM q, unnest(generate_series(0, n - 1)) AS u(i)),
        | e AS (SELECT media_id, i,
        |   coalesce(list_sum(list_transform(
        |     generate_series(f_from + 1, f_until),
        |     j -> ord(substr(text, j, 1)))), 0)::BIGINT AS en
        |  FROM f),
        | k1 AS (SELECT media_id,
        |   md5('mp4:' || string_agg(en::VARCHAR, ',' ORDER BY i))
        |     AS content_md5
        |  FROM e GROUP BY media_id),
        | k2 AS (SELECT media_id, (CASE WHEN remuxed THEN 'r:' ELSE 'o:' END)
        |   || n_chars || ':' || substr(text, 1, least(n * chunk, len))
        |     AS blob_key
        |  FROM q)
        |SELECT min(media_id) AS keep_id, count(*)::BIGINT AS n_copies,
        | count(DISTINCT blob_key)::BIGINT AS n_blob_variants,
        | content_md5
        |FROM k1 JOIN k2 USING (media_id)
        |GROUP BY content_md5 ORDER BY keep_id""".stripMargin,
    "webp_meta" ->
      // expected metadata straight from the docs table — the oracle
      // never sees a RIFF byte, so parity proves the build→parse identity
      """SELECT doc_id AS media_id,
        | CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
        |   ELSE 'extended' END AS format,
        | (n_chars % 640) + 1 AS width,
        | (n_chars % 480) + 1 AS height,
        | (CASE WHEN doc_id % 3 = 1 AND n_chars % 2 = 0 THEN 1
        |   WHEN doc_id % 3 = 2 AND n_chars % 2 = 1 THEN 1
        |   ELSE 0 END)::BIGINT AS has_alpha,
        | (CASE WHEN doc_id % 3 = 2 AND n_chars % 2 = 0 THEN 1
        |   ELSE 0 END)::BIGINT AS animated,
        | (CASE WHEN doc_id % 3 = 2 AND n_chars % 2 = 0
        |   THEN (n_chars % 4) + 1 ELSE 1 END)::BIGINT AS n_frames,
        | (CASE WHEN doc_id % 3 = 2
        |   THEN CASE WHEN n_chars % 2 = 0 THEN (n_chars % 4) + 3 ELSE 3 END
        |   ELSE 1 END)::BIGINT AS n_chunks
        |FROM documents ORDER BY media_id""".stripMargin,
    "mp4_meta" ->
      // expected metadata straight from the docs table — the oracle
      // never parses a box, so parity proves the build→parse identity
      """SELECT doc_id AS media_id, 'isom' AS brand, 1000 AS timescale,
        | n_chars * 10 AS duration_ms,
        | n_chars % 640 AS video_w, n_chars % 480 AS video_h,
        | n_chars * 7 AS audio_duration_ms, 2 AS n_tracks
        |FROM documents ORDER BY media_id""".stripMargin,
    "jpeg_codec" ->
      // every claim is a constant the JVM side must EARN per image: the
      // oracle's only per-row content is the id column itself
      """SELECT doc_id AS media_id, 16 AS width, 16 AS height,
        | 1 AS psnr_ok, 1 AS lum_ok, 1 AS dispatch_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "jpeg_progressive" ->
      // constants the multi-scan (SOF2) decode must EARN per image:
      // marker present, progressive == baseline decode EXACTLY, dispatch
      """SELECT doc_id AS media_id, 16 AS width, 16 AS height,
        | 1 AS sof2_ok, 1 AS prog_exact, 1 AS dispatch_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "jpeg_exif_meta" ->
      // flags and orientation are doc_id arithmetic; the byte delta is
      // the shared segment-size constants — every value the walker must
      // EARN from the staged segments, none from the text
      s"""SELECT doc_id AS media_id, 1 AS has_exif,
        | (doc_id % 8) + 1 AS orientation,
        | CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS has_icc,
        | ${graft.multimodal.Jpeg.ExifSegmentBytes}
        |   + CASE WHEN doc_id % 3 = 0
        |       THEN ${graft.multimodal.Jpeg.IccSegmentBytes} ELSE 0 END
        |   AS meta_bytes,
        | 0 AS stripped_has_meta, 1 AS pixels_equal
        |FROM documents ORDER BY media_id""".stripMargin,
    "ppm_codec" ->
      // the oracle computes expected cell sums STRAIGHT from the text —
      // it never parses PPM — so agreement proves the JVM encode/decode/
      // resize chain is lossless. Full image: byte k -> pixel k//3 ->
      // cell (r//4)*4 + c//4; resized 8x8: out pixel (r,c) samples source
      // (2r,2c) under the floor mapping 16->8.
      """WITH d AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   greatest(length(text), 1) AS len FROM documents),
        | fk AS (SELECT media_id, i // 3 AS p,
        |     ord(substr(text, (i % len) + 1, 1)) AS b
        |   FROM d, unnest(generate_series(0, 767)) AS u(i)),
        | full16 AS (SELECT media_id,
        |     ((p // 16) // 4) * 4 + ((p % 16) // 4) AS cell,
        |     sum(b)::BIGINT AS lum_sum
        |   FROM fk GROUP BY 1, 2),
        | rk AS (SELECT media_id,
        |     (r // 2) * 4 + (c // 2) AS cell,
        |     ord(substr(text,
        |       ((3 * ((2 * r) * 16 + 2 * c) + ch) % len) + 1, 1)) AS b
        |   FROM d, unnest(generate_series(0, 7)) AS ur(r),
        |     unnest(generate_series(0, 7)) AS uc(c),
        |     unnest(generate_series(0, 2)) AS uch(ch)),
        | rz AS (SELECT media_id, cell, sum(b)::BIGINT AS lum_sum_8x8
        |   FROM rk GROUP BY 1, 2)
        |SELECT media_id, cell::BIGINT AS cell, lum_sum, lum_sum_8x8
        |FROM full16 JOIN rz USING (media_id, cell)
        |ORDER BY media_id, cell""".stripMargin,
    "gif_codec" ->
      // grayscale identity palette: pixel p's index = text byte at
      // (p % len), each gray pixel contributes 3·b of luminance; the
      // 8x8 resize samples source (2r, 2c) under the index-space floor
      // mapping — the oracle never sees a GIF byte
      """WITH d AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   greatest(length(text), 1) AS len FROM documents),
        | fk AS (SELECT media_id, p,
        |     3 * ord(substr(text, (p % len) + 1, 1)) AS lum
        |   FROM d, unnest(generate_series(0, 255)) AS u(p)),
        | full16 AS (SELECT media_id,
        |     ((p // 16) // 4) * 4 + ((p % 16) // 4) AS cell,
        |     sum(lum)::BIGINT AS lum_sum
        |   FROM fk GROUP BY 1, 2),
        | rk AS (SELECT media_id,
        |     (r // 2) * 4 + (c // 2) AS cell,
        |     3 * ord(substr(text,
        |       (((2 * r) * 16 + 2 * c) % len) + 1, 1)) AS lum
        |   FROM d, unnest(generate_series(0, 7)) AS ur(r),
        |     unnest(generate_series(0, 7)) AS uc(c)),
        | rz AS (SELECT media_id, cell, sum(lum)::BIGINT AS lum_sum_8x8
        |   FROM rk GROUP BY 1, 2)
        |SELECT media_id, cell::BIGINT AS cell, lum_sum, lum_sum_8x8,
        | lum_sum AS lum_sum_dispatch
        |FROM full16 JOIN rz USING (media_id, cell)
        |ORDER BY media_id, cell""".stripMargin,
    "png_codec" ->
      // identical expected sums as ppm_codec (the container changes, the
      // pixels must not), plus the dispatch column which must equal the
      // direct sum — the oracle never parses a PNG byte
      """WITH d AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   greatest(length(text), 1) AS len FROM documents),
        | fk AS (SELECT media_id, i // 3 AS p,
        |     ord(substr(text, (i % len) + 1, 1)) AS b
        |   FROM d, unnest(generate_series(0, 767)) AS u(i)),
        | full16 AS (SELECT media_id,
        |     ((p // 16) // 4) * 4 + ((p % 16) // 4) AS cell,
        |     sum(b)::BIGINT AS lum_sum
        |   FROM fk GROUP BY 1, 2),
        | rk AS (SELECT media_id,
        |     (r // 2) * 4 + (c // 2) AS cell,
        |     ord(substr(text,
        |       ((3 * ((2 * r) * 16 + 2 * c) + ch) % len) + 1, 1)) AS b
        |   FROM d, unnest(generate_series(0, 7)) AS ur(r),
        |     unnest(generate_series(0, 7)) AS uc(c),
        |     unnest(generate_series(0, 2)) AS uch(ch)),
        | rz AS (SELECT media_id, cell, sum(b)::BIGINT AS lum_sum_8x8
        |   FROM rk GROUP BY 1, 2)
        |SELECT media_id, cell::BIGINT AS cell, lum_sum, lum_sum_8x8,
        | lum_sum AS lum_sum_dispatch
        |FROM full16 JOIN rz USING (media_id, cell)
        |ORDER BY media_id, cell""".stripMargin,
    "webp_codec" ->
      // identical expected sums as png_codec (VP8L is lossless, so the
      // container/bitstream change must not move a single pixel byte) —
      // the oracle never parses a WebP byte
      """WITH d AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   greatest(length(text), 1) AS len FROM documents),
        | fk AS (SELECT media_id, i // 3 AS p,
        |     ord(substr(text, (i % len) + 1, 1)) AS b
        |   FROM d, unnest(generate_series(0, 767)) AS u(i)),
        | full16 AS (SELECT media_id,
        |     ((p // 16) // 4) * 4 + ((p % 16) // 4) AS cell,
        |     sum(b)::BIGINT AS lum_sum
        |   FROM fk GROUP BY 1, 2),
        | rk AS (SELECT media_id,
        |     (r // 2) * 4 + (c // 2) AS cell,
        |     ord(substr(text,
        |       ((3 * ((2 * r) * 16 + 2 * c) + ch) % len) + 1, 1)) AS b
        |   FROM d, unnest(generate_series(0, 7)) AS ur(r),
        |     unnest(generate_series(0, 7)) AS uc(c),
        |     unnest(generate_series(0, 2)) AS uch(ch)),
        | rz AS (SELECT media_id, cell, sum(b)::BIGINT AS lum_sum_8x8
        |   FROM rk GROUP BY 1, 2)
        |SELECT media_id, cell::BIGINT AS cell, lum_sum, lum_sum_8x8,
        | lum_sum AS lum_sum_dispatch
        |FROM full16 JOIN rz USING (media_id, cell)
        |ORDER BY media_id, cell""".stripMargin,
    "wav_codec" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   greatest(length(text), 1) AS len FROM documents),
        | s AS (SELECT media_id, i // 16 AS win,
        |     abs((ord(substr(text, (i % len) + 1, 1)) - 128) * 256)::BIGINT AS a
        |   FROM d, unnest(generate_series(0, 255)) AS u(i))
        |SELECT media_id, win::BIGINT AS win, sum(a)::BIGINT AS abs_sum,
        | 16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples
        |FROM s GROUP BY media_id, win ORDER BY media_id, win""".stripMargin,
    "flac_codec" ->
      // identical window masses as wav_codec (FLAC is lossless, so the
      // compressed container must not move a single sample) plus the
      // STREAMINFO constants and the dispatch re-derivation — the
      // oracle never parses a FLAC byte
      """WITH d AS (SELECT doc_id AS media_id,
        |   CASE WHEN text = '' THEN '.' ELSE text END AS text,
        |   greatest(length(text), 1) AS len FROM documents),
        | s AS (SELECT media_id, i // 16 AS win,
        |     abs((ord(substr(text, (i % len) + 1, 1)) - 128) * 256)::BIGINT AS a
        |   FROM d, unnest(generate_series(0, 255)) AS u(i))
        |SELECT media_id, win::BIGINT AS win, sum(a)::BIGINT AS abs_sum,
        | sum(a)::BIGINT AS abs_sum_dispatch,
        | 16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        | 1::BIGINT AS n_channels
        |FROM s GROUP BY media_id, win ORDER BY media_id, win""".stripMargin,
    "media_frames" ->
      """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS len,
        |   n_chars * 10 AS duration_ms FROM documents),
        | p AS (SELECT media_id, text, len,
        |   greatest(1, duration_ms // 5000) AS n FROM m),
        | q AS (SELECT media_id, text, len, n,
        |   greatest(1, len // n) AS chunk FROM p),
        | f AS (SELECT media_id, i AS frame_idx,
        |     least(i * chunk, len) AS f_from,
        |     least(i * chunk + chunk, len) AS f_until, text
        |   FROM q, unnest(generate_series(0, n - 1)) AS u(i))
        |SELECT media_id, frame_idx, f_until - f_from AS n_bytes,
        | md5(substring(text, f_from + 1, f_until - f_from)) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "media_meta" ->
      """WITH m AS (SELECT
        |   CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |        ELSE 'video' END AS kind,
        |   CASE (doc_id % 3) WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
        |        ELSE 'mp4' END AS format,
        |   n_chars * 10 AS duration_ms FROM documents)
        |SELECT kind, format, count(*) AS n,
        | round(avg(duration_ms), 2) AS avg_duration_ms
        |FROM m GROUP BY kind, format ORDER BY kind""".stripMargin,
    "media_dedup" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |   CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |        ELSE 'video' END AS kind,
        |   md5(text) AS blob_md5 FROM documents)
        |SELECT min(media_id) AS keep_id, kind, count(*)::BIGINT AS n_copies,
        | blob_md5
        |FROM m GROUP BY blob_md5, kind ORDER BY keep_id""".stripMargin,
    "media_neardup" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |   CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |        ELSE 'video' END AS kind,
        |   text AS t FROM documents),
        | f AS (SELECT media_id, kind,
        |   list_transform(range(0, 16), j ->
        |     coalesce(list_sum(list_transform(
        |       list_filter(range(0, length(t)), i -> i % 16 = j),
        |       i -> ord(substr(t, i + 1, 1)))), 0)) AS fv
        |   FROM m),
        | g AS (SELECT media_id, kind, fv,
        |   sqrt(list_sum(list_transform(fv, x -> x * x))) AS nrm FROM f),
        | p AS (SELECT a.kind,
        |   round(list_dot_product(a.fv::DOUBLE[], b.fv::DOUBLE[])
        |         / (a.nrm * b.nrm), 4) AS cos
        |   FROM g a JOIN g b ON a.kind = b.kind AND a.media_id < b.media_id)
        |SELECT kind, cast(floor(cos * 100) AS INT) AS bucket_pct,
        | count(*)::BIGINT AS n_pairs
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "media_neardup_sampled" ->
      s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        | pp AS (SELECT CASE WHEN n < 2 THEN 1.0 ELSE
        |     least(1.0, sqrt(2.0 * $NeardupPairBudget / (n * (n - 1.0)))) END AS p FROM nn),
        | m AS (SELECT doc_id AS media_id,
        |   CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |        ELSE 'video' END AS kind,
        |   text AS t FROM documents, pp
        |   WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |       / 4294967296.0 < p),
        | f AS (SELECT media_id, kind,
        |   list_transform(range(0, 16), j ->
        |     coalesce(list_sum(list_transform(
        |       list_filter(range(0, length(t)), i -> i % 16 = j),
        |       i -> ord(substr(t, i + 1, 1)))), 0)) AS fv
        |   FROM m),
        | g AS (SELECT media_id, kind, fv,
        |   sqrt(list_sum(list_transform(fv, x -> x * x))) AS nrm FROM f),
        | p AS (SELECT a.kind,
        |   round(list_dot_product(a.fv::DOUBLE[], b.fv::DOUBLE[])
        |         / (a.nrm * b.nrm), 4) AS cos
        |   FROM g a JOIN g b ON a.kind = b.kind AND a.media_id < b.media_id)
        |SELECT kind, cast(floor(cos * 100) AS INT) AS bucket_pct,
        | count(*)::BIGINT AS n_pairs
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "frame_dedup" ->
      """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS len,
        |   n_chars * 10 AS duration_ms FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS media_id,
        |   text, length(text) AS len,
        |   n_chars * 10 AS duration_ms FROM documents WHERE doc_id % 7 = 0),
        | p AS (SELECT media_id, text, len,
        |   greatest(1, duration_ms // 5000) AS n FROM m),
        | q AS (SELECT media_id, text, len, n,
        |   greatest(1, len // n) AS chunk FROM p),
        | f AS (SELECT media_id,
        |     md5(substring(text, least(i * chunk, len) + 1,
        |       least(i * chunk + chunk, len) - least(i * chunk, len)))
        |       AS frame_md5
        |   FROM q, unnest(generate_series(0, n - 1)) AS u(i))
        |SELECT frame_md5, count(*)::BIGINT AS n_frames,
        | count(DISTINCT media_id)::BIGINT AS n_media,
        | min(media_id) AS first_media
        |FROM f GROUP BY frame_md5 HAVING count(*) > 1
        |ORDER BY frame_md5""".stripMargin)
}
