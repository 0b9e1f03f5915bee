package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata carried next to an opaque payload column. */
case class MediaMeta(mime: String, width: Int, height: Int, durationMs: Long)

/** A multimodal record: payload as an opaque `binary` column + typed
  * metadata — the schema a 100 TB media corpus would use (payload column
  * stays unread unless the query touches it; parquet column pruning skips
  * the heavy bytes for metadata-only queries). */
case class MediaRecord(media_id: Long, kind: String, bytes: Array[Byte], meta: MediaMeta)

/** One fully-decoded record: features for every kind, decode facts for
  * images (None for the stubbed kinds / undecodable payloads). */
case class MediaDecoded(media_id: Long, kind: String, features: Array[Float],
                        width: Option[Int], height: Option[Int], checksum: Option[Long])

/** Decoded-video facts: frame count + dimensions from the real per-frame
  * decode, and an ORDER-SENSITIVE fold of the per-frame pixel checksums
  * (frame order is the video). */
case class VideoStats(doc_id: Long, n_frames: Long, width: Long, height: Long,
                      frames_checksum: Long)

/** Decoded-audio facts: format fields from the real WAV header parse plus
  * an order-stable rolling checksum over the decoded PCM samples. */
case class AudioStats(doc_id: Long, sample_rate: Long, n_samples: Long,
                      duration_ms: Long, sample_checksum: Long)

/** Multimodal-column operators.
  *
  * ALL THREE decodes are REAL, pure-JDK:
  *  - IMAGE: genuine PNG files decoded by `javax.imageio`;
  *  - AUDIO: genuine RIFF/PCM16 WAV files decoded by `javax.sound.sampled`
  *    (the built-in WAVE reader);
  *  - VIDEO: a motion-PNG frame sequence — MJPEG's container shape
  *    (length-prefixed independently-coded frames) with a LOSSLESS
  *    intra-frame codec, each frame a genuine PNG decoded by
  *    `javax.imageio`. Lossless is what makes the modality GRADABLE: a
  *    JPEG DCT round-trip is decoder-implementation-defined, so no
  *    decoder-free oracle could recompute its pixels; PNG round-trips
  *    exactly, so the q93 oracle recomputes every decoded raster from the
  *    (doc_id, frame, x, y) generator formula without any codec. A real
  *    deployment swaps the frame codec inside [[decodeVideo]] without
  *    touching the dataflow around it.
  *
  * Scale notes: decode runs per-partition with no shuffle; feature
  * extraction is embarrassingly parallel.
  */
object MediaOps {

  // ImageIO.read(InputStream)/write default to spooling through a
  // DISK-BACKED temp file (FileCacheImageInputStream): one file
  // create/write/read/delete PER DECODE, pure I/O overhead for payloads
  // already in memory — and the reason decode cost tracks tmp-filesystem
  // speed across hosts. Memory-back the wrapper instead (JVM-wide; this
  // object loads in each executor JVM before any decode call). The
  // decoder sees identical bytes, so every raster is bit-equal.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic tiny PNG: pixel (x, y) is a pure function of (seed, x, y),
    * encoded by a minimal spec-conformant writer (8-bit truecolor, filter-0
    * scanlines, one deflate IDAT) — ImageIO's general-purpose encoder costs
    * ~10× more per tiny frame in SPI/color-model overhead, and synthesis is
    * the fixture half, not the graded decode half. PNG is lossless, so the
    * REAL ImageIO decode on the read side still recovers the exact raster
    * on any JVM (the q50/q93 oracles verify that identity end-to-end).
    * Real corpora read `binary` payload columns from parquet instead. */
  def pngBytes(seed: Long, w: Int, h: Int): Array[Byte] = {
    val raw = new Array[Byte](h * (1 + 3 * w))
    var idx = 0
    var y = 0
    while (y < h) {
      raw(idx) = 0 // filter type 0 (None) per scanline
      idx += 1
      var x = 0
      while (x < w) {
        val v = seed * 6364136223846793005L + (x * 31L + y * 131L + 17L) * 2654435761L
        val rgb = ((v >>> 16) & 0xFFFFFF).toInt
        raw(idx) = (rgb >>> 16).toByte
        raw(idx + 1) = ((rgb >>> 8) & 0xFF).toByte
        raw(idx + 2) = (rgb & 0xFF).toByte
        idx += 3
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    defl.setInput(raw)
    defl.finish()
    val comp = new ByteArrayOutputStream(raw.length / 2 + 32)
    val buf = new Array[Byte](8192)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
      .array()
    val out = new ByteArrayOutputStream(comp.size() + 64)
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    pngChunk(out, "IHDR", ihdr)
    pngChunk(out, "IDAT", comp.toByteArray)
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def pngChunk(out: ByteArrayOutputStream, tag: String,
                       data: Array[Byte]): Unit = {
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(data.length)
    val tb = tag.getBytes("US-ASCII")
    dos.write(tb)
    dos.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb)
    crc.update(data)
    dos.writeInt(crc.getValue.toInt)
    dos.flush()
  }

  /** Row-major rolling hash over the decoded RGB raster — stable across
    * JVMs (PNG is lossless, the traversal order is fixed). */
  def pixelChecksum(img: BufferedImage): Long = {
    var h = 1125899906842597L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        h = 31 * h + (img.getRGB(x, y) & 0xFFFFFF)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Sample-rate / sample-count dials for the synthesized WAV leg — pure
    * functions of the row so the decoder-free oracle can recompute them. */
  def wavSampleRate(nChars: Int): Int = 8000 + (nChars % 3) * 4000
  def wavSampleCount(nChars: Int): Int = nChars % 200 + 50

  /** Deterministic 16-bit PCM mono WAV: sample i is a pure function of
    * (seed, i) in wrapping Java long arithmetic, wrapped in a canonical
    * 44-byte RIFF header — decode via `javax.sound.sampled` recovers the
    * exact sample sequence on any JVM. The audio analog of [[pngBytes]]. */
  def wavBytes(seed: Long, sampleRate: Int, n: Int): Array[Byte] = {
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = seed * 6364136223846793005L + (i + 1) * 2654435761L
      val u = ((v >>> 16) & 0xFFFF).toInt // unsigned 16-bit PCM LE
      data(2 * i) = (u & 0xFF).toByte
      data(2 * i + 1) = ((u >> 8) & 0xFF).toByte
      i += 1
    }
    val bos = new ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(x: Int): Unit = { bos.write(x & 0xFF); bos.write((x >> 8) & 0xFF)
      bos.write((x >> 16) & 0xFF); bos.write((x >> 24) & 0xFF) }
    def le16(x: Int): Unit = { bos.write(x & 0xFF); bos.write((x >> 8) & 0xFF) }
    ascii("RIFF"); le32(36 + data.length); ascii("WAVE")
    ascii("fmt "); le32(16); le16(1) /* PCM */ ; le16(1) /* mono */
    le32(sampleRate); le32(sampleRate * 2) /* byte rate */
    le16(2) /* block align */ ; le16(16) /* bits */
    ascii("data"); le32(data.length); bos.write(data)
    bos.toByteArray
  }

  /** Frame-count / frame-dimension dials for the synthesized video leg —
    * pure functions of the row so the decoder-free oracle can recompute
    * them ([[wavSampleRate]]'s pattern). */
  def vidFrameCount(nChars: Int): Int = nChars % 6 + 2
  def vidWidth(nChars: Int): Int = nChars % 10 + 4
  def vidHeight(nChars: Int): Int = nChars % 8 + 3
  /** Per-frame raster seed: frame f of video `id` is [[pngBytes]]'
    * (seed, x, y) function at this seed — wrapping Java long arithmetic,
    * mirrored mod-2^64 by the oracle. */
  def vidFrameSeed(id: Long, f: Int): Long = id * 1000003L + f
  /** Frame period: the container stamps a fixed 25 fps. */
  val VidFrameMs = 40L

  /** Deterministic motion-PNG "video": a 4-byte frame count, then each
    * frame as [4-byte length][PNG bytes] — real, independently decodable
    * PNG files ([[pngBytes]] at [[vidFrameSeed]]), so decode recovers the
    * exact rasters on any JVM. The video analog of [[pngBytes]]. */
  def videoBytes(id: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(nFrames)
    var f = 0
    while (f < nFrames) {
      val png = pngBytes(vidFrameSeed(id, f), w, h)
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    bos.toByteArray
  }

  /** The REAL video decode: parse the container, ImageIO-decode every
    * frame. None on a malformed container or any undecodable frame (the
    * tolerant-parse contract — a corrupt record must not kill a 100 TB
    * job). */
  private[multimodal] def decodeVideo(bytes: Array[Byte]): Option[IndexedSeq[BufferedImage]] =
    try {
      val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
      val nf = in.readInt()
      if (nf < 0 || nf > 1000000) None
      else {
        val frames = (0 until nf).map { _ =>
          val len = in.readInt()
          if (len < 0 || len > bytes.length) throw new java.io.IOException("bad frame length")
          val buf = new Array[Byte](len)
          in.readFully(buf)
          javax.imageio.ImageIO.read(new ByteArrayInputStream(buf))
        }
        if (frames.contains(null)) None else Some(frames)
      }
    } catch { case _: Exception => None }

  /** Order-sensitive fold of per-frame pixel checksums — frame order IS
    * the video, so this is `h = 31·h + pixelChecksum(frame)` in frame
    * order (wrapping), not an XOR. */
  private[multimodal] def framesChecksum(frames: Seq[BufferedImage]): Long = {
    var h = 1125899906842597L
    frames.foreach(fr => h = 31 * h + pixelChecksum(fr))
    h
  }

  /** Deterministic fake media corpus derived from `documents`: doc_id % 3
    * picks the kind; IMAGE payloads are real PNGs ([[pngBytes]]), AUDIO
    * payloads are real WAVs ([[wavBytes]]), VIDEO payloads are real
    * motion-PNG frame sequences ([[videoBytes]]). */
  def fromDocuments(docs: DataFrame): Dataset[MediaRecord] =
    fromDocumentsOf(docs, None)

  /** Single-modality variant: the kind filter runs on `doc_id % 3` BEFORE
    * payload synthesis, so an audio-only consumer never pays the ImageIO
    * PNG encodes of the image/video thirds it would discard (pushdown a
    * real media lake gets free from partitioning by modality). */
  def fromDocumentsOf(docs: DataFrame, kind: Option[String]): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pre = kind match {
      case Some("image") => docs.filter("doc_id % 3 = 0")
      case Some("audio") => docs.filter("doc_id % 3 = 1")
      case Some("video") => docs.filter("doc_id % 3 = 2")
      case _ => docs
    }
    pre.selectExpr("doc_id", "text", "CAST(n_chars AS INT) AS n")
      .as[(Long, String, Int)]
      .map { case (id, _, n) =>
        (id % 3) match {
          case 0 =>
            val w = n % 16 + 4
            val h = n % 12 + 3
            MediaRecord(id, "image", pngBytes(id, w, h), MediaMeta("image/png", w, h, 0L))
          case 1 =>
            val rate = wavSampleRate(n)
            val samples = wavSampleCount(n)
            MediaRecord(id, "audio", wavBytes(id, rate, samples),
              MediaMeta("audio/wav", 0, 0, samples.toLong * 1000L / rate))
          case _ =>
            val (w, h, nf) = (vidWidth(n), vidHeight(n), vidFrameCount(n))
            MediaRecord(id, "video", videoBytes(id, w, h, nf),
              MediaMeta("video/x-motion-png", w, h, nf * VidFrameMs))
        }
      }
  }

  /** REAL audio features: decode the PCM via the JDK WAVE reader, bucket
    * the unsigned 16-bit samples into `dim` cells by sample index, mean
    * amplitude per cell in [0, 1]. Zero vector if undecodable. */
  private[multimodal] def audioFeatures(bytes: Array[Byte], dim: Int): Array[Float] =
    try {
      val in = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new ByteArrayInputStream(bytes))
      val pcm = in.readAllBytes()
      val n = pcm.length / 2
      val sums = new Array[Long](dim)
      val counts = new Array[Int](dim)
      var i = 0
      while (i < n) {
        val u = (pcm(2 * i) & 0xFF) | ((pcm(2 * i + 1) & 0xFF) << 8)
        sums(i % dim) += u
        counts(i % dim) += 1
        i += 1
      }
      val out = new Array[Float](dim)
      var d = 0
      while (d < dim) {
        out(d) = if (counts(d) == 0) 0f else sums(d).toFloat / (counts(d) * 65535f)
        d += 1
      }
      out
    } catch { case _: Exception => new Array[Float](dim) }

  /** REAL video features: mean of the per-frame [[featuresOf]] vectors
    * over the decoded frames. Zero vector if undecodable. */
  private[multimodal] def videoFeaturesOf(frames: Seq[BufferedImage], dim: Int): Array[Float] = {
    val acc = new Array[Float](dim)
    frames.foreach { fr =>
      val f = featuresOf(fr, dim)
      var d = 0
      while (d < dim) { acc(d) += f(d); d += 1 }
    }
    var d = 0
    while (d < dim) { acc(d) /= frames.length.max(1); d += 1 }
    acc
  }

  /** Feature extraction over an ALREADY-decoded raster — shared by the
    * per-op paths and the single-decode combined pass. */
  private def featuresOf(img: BufferedImage, dim: Int): Array[Float] = {
    val sums = new Array[Long](dim)
    val counts = new Array[Int](dim)
    var i = 0
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        val b = i % dim
        sums(b) += lum
        counts(b) += 1
        i += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](dim)
    var d = 0
    while (d < dim) {
      out(d) = if (counts(d) == 0) 0f else sums(d).toFloat / (counts(d) * 765f)
      d += 1
    }
    out
  }

  /** Decoded-audio facts via the REAL decoder: `javax.sound.sampled` (the
    * JDK's built-in WAVE reader) parses the RIFF header into an
    * `AudioFormat` and streams the PCM frames; the checksum folds the
    * decoded unsigned 16-bit samples in order (h = 31·h + u16, wrapping).
    * Runs in `mapPartitions` like the image decoder; an undecodable
    * payload is dropped instead of killing the job (the tolerant-parse
    * contract of the streaming leg). */
  def audioStats(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").mapPartitions { it =>
      it.flatMap { m =>
        try {
          val in = javax.sound.sampled.AudioSystem
            .getAudioInputStream(new ByteArrayInputStream(m.bytes))
          val fmt = in.getFormat
          val pcm = in.readAllBytes()
          val n = pcm.length / 2
          var h = 1125899906842597L
          var i = 0
          while (i < n) {
            val u = (pcm(2 * i) & 0xFF) | ((pcm(2 * i + 1) & 0xFF) << 8)
            h = 31 * h + u
            i += 1
          }
          val rate = fmt.getSampleRate.toLong
          Some(AudioStats(m.media_id, rate, n.toLong, n.toLong * 1000L / rate, h))
        } catch { case _: Exception => None }
      }
    }
  }

  /** q81 — audio pipeline end-to-end: corpus → real WAV decode → per-doc
    * format facts + PCM checksum. The q50 pattern for the audio modality:
    * the Spark side decodes actual RIFF bytes with the JDK's WAVE reader,
    * while the oracle recomputes every column WITHOUT a decoder from the
    * (doc_id, n_chars)-pure sample function — a hash match proves the
    * encode → header parse → PCM decode → checksum path is the identity.
    *
    * It reads an ALREADY-synthesized media table (the
    * parquet corpus snapshot `SparkEntry.mediaShared` materializes): the
    * modality filter runs as an untyped `kind = 'audio'` predicate BEFORE
    * the typed decode, so it reaches the parquet scan — the payload bytes
    * of the image/video thirds are never read (binary column pruning +
    * predicate pushdown, the reads-side twin of [[fromDocumentsOf]]'s
    * synthesize-side filter). Decode stays the measured cost. */
  def audioFeatureStatsOf(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    audioStats(media.filter(col("kind") === "audio").as[MediaRecord])
      .toDF().orderBy("doc_id")
  }

  /** Nearest-neighbor sample of a decoded raster onto a `side`×`side`
    * grid, row-major — source pixel (tx·W DIV side, ty·H DIV side), the
    * classic integer NN map (exactly reproducible by the decoder-free
    * oracle; dimensions smaller than the grid duplicate rows/columns,
    * which IS nearest-neighbor upsampling). Shared by [[thumbnailCensus]]
    * and the perceptual hashes. */
  private[graft] def nnSample(img: BufferedImage, w: Int, h: Int): Array[Long] = {
    val out = new Array[Long](w * h)
    var t = 0
    while (t < out.length) {
      val x = (t % w) * img.getWidth / w
      val y = (t / w) * img.getHeight / h
      out(t) = (img.getRGB(x, y) & 0xFFFFFF).toLong
      t += 1
    }
    out
  }

  /** q207's thumbnail grid side. */
  val ThumbSide = 4

  /** q207 — THUMBNAIL CENSUS: the resize leg of the multimodal pipeline
    * made a GRADED query — every image payload decodes (real ImageIO,
    * as q50) and nearest-neighbor resamples onto the fixed
    * [[ThumbSide]]² grid (the training-data shape: a vision pipeline
    * normalizes every image to one raster size before featurization).
    * Ships per image: true decoded dimensions, the rolling checksum
    * over the 16 sampled values in row-major order (the q50 fold
    * constants — ANY wrong sampled coordinate or channel breaks it),
    * their exact sum, and the top-left sample. The oracle recomputes
    * every value decoder-free from the synthetic raster formula at the
    * SAME sampled coordinates — the hash grades the decode, the NN
    * coordinate map, and the re-encode-free fold end to end.
    *
    * Scale shape: embarrassingly parallel map over image payloads (the
    * modality filter prunes before synthesis/decode); output one narrow
    * row per image. */
  def thumbnailCensus(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fromDocumentsOf(docs, Some("image")).flatMap { m =>
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(m.bytes))
      if (img == null) None
      else {
        val px = nnSample(img, ThumbSide, ThumbSide)
        var acc = 1125899906842597L
        px.foreach(p => acc = 31 * acc + p)
        Some((m.media_id, img.getWidth.toLong, img.getHeight.toLong,
          acc, px.sum, px(0)))
      }
    }.toDF("doc_id", "w", "h", "thumb_checksum", "thumb_sum", "top_left")
      // r16: the presentation sort's range sampler re-executes the
      // un-shuffled child — here the FULL ImageIO decode + NN resample
      // per image; materialize the narrow census rows once instead
      // (the q79 fix — this was the costliest double-compute left,
      // a whole second decode pass of every image payload)
      .localCheckpoint()
      .orderBy("doc_id")
  }

  /** q223's dials. dHash grid: 9×8 luminance samples → 8 horizontal
    * comparisons × 8 rows = 64 bits (the standard difference-hash shape).
    * Banding: 4 × 16-bit bands, so by pigeonhole any pair within Hamming
    * [[PhHamK]] = 3 shares at least one whole band — the band equi-join
    * is candidate-complete at that radius, never all-pairs. The variant
    * offset keys the planted brightness twins ([[imageDhashes]]); the
    * bucket cap bounds the candidate space on degenerate corpora (a
    * constant-color drop collapses every image into one band bucket —
    * the q38 hot-key discipline: over-cap buckets are excluded, trading
    * recall inside them for a hard quadratic bound, and the exclusion is
    * mirrored in the oracle).
    *
    * Scale dial (not exercised here): at billions of images a 64-bit
    * dHash itself saturates (band buckets grow to N/2¹⁶ and genuinely
    * different images collide at Hamming ≤ 3); the production turn is a
    * longer hash (pHash-256) with more/wider bands — same plan shape,
    * wider keys. */
  val PhGridW = 9
  val PhGridH = 8
  val PhHamK = 3L
  val PhBandBucketCap = 64L
  val PhVariantOffset = 2000000000000L
  val PhVariantBuckets = 4

  /** Integer luminance of a packed 0xRRGGBB value: r + g + b (0..765) —
    * no IEEE weights, so ordering comparisons are engine-exact. */
  private def phLum(v: Long): Long =
    ((v >> 16) & 0xFF) + ((v >> 8) & 0xFF) + (v & 0xFF)

  /** The planted near-dup perturbation: +1 per channel mod 256 — a
    * brightness nudge that PRESERVES every luminance ordering except
    * where a channel wraps 255→0 (≈ 3/256 of cells), so a variant's
    * dHash sits within a few bits of its original: Hamming 0 for most
    * twins, small positive when a wrap flips the ≤ 2 comparisons the
    * wrapped cell participates in. Exactly the invariance dHash is FOR
    * (monotone intensity changes don't move the hash), with the wrap
    * providing honest nonzero distances. */
  private def phPerturbLum(v: Long): Long =
    (((v >> 16) & 0xFF) + 1) % 256 + (((v >> 8) & 0xFF) + 1) % 256 +
      ((v & 0xFF) + 1) % 256

  /** 64-bit difference hash over a row-major [[PhGridW]]×[[PhGridH]]
    * luminance grid: bit y·8+x is set iff lum(x, y) > lum(x+1, y). */
  private[graft] def dhashOf(lums: Array[Long]): Long = {
    var h = 0L
    var y = 0
    while (y < PhGridH) {
      var x = 0
      while (x < PhGridW - 1) {
        if (lums(y * PhGridW + x) > lums(y * PhGridW + x + 1))
          h |= 1L << (y * (PhGridW - 1) + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** The md5 variant-selection rule, row-local and engine-shared: the
    * first md5 byte of "ph:<id>" mod [[PhVariantBuckets]] — the same
    * rendering the q212 drift rule uses, so the DuckDB oracle replays
    * membership exactly ('0x'-substr cast ≡ first byte). */
  private def phVariant(id: Long): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ph:$id".getBytes("UTF-8"))
    (d(0) & 0xFF) % PhVariantBuckets == 0
  }

  /** q223's corpus stage: every image payload REALLY decodes (ImageIO, the
    * q50 path) and yields its 64-bit dHash from the shared NN 9×8 grid
    * sample; an md5-selected quarter additionally yields a PLANTED
    * brightness-twin hash under [[PhVariantOffset]] — the perturbation is
    * applied to the decoded raster (sample-then-perturb ≡ perturb-then-
    * sample for a pointwise map; PNG losslessness of a re-encode round
    * trip is already graded by q50/q93/q207, so re-encoding here would
    * re-prove a proven identity at double the decode cost). One synthesis
    * + one decode per image, embarrassingly parallel, two narrow output
    * rows max. */
  def imageDhashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // mapPartitions for the per-partition decode idiom its siblings use
    // (decodeAll, audioFingerprints) — unified per the r15 style note
    fromDocumentsOf(docs, Some("image")).mapPartitions { it =>
      it.flatMap { m =>
        val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(m.bytes))
        // fail LOUDLY on an undecodable payload (r15 advice): the q223/
        // q225 oracles enumerate the image universe from the raster
        // formula, so a silent drop would shrink the engine-side universe
        // without moving the oracle — a latent hash mismatch on any corpus
        // with a corrupt image. Tolerant decode lives in decodeAll
        // (feature extraction, where a corrupt record must not kill the
        // job); the dedup universe must be exact or the query must fail.
        if (img == null)
          throw new IllegalStateException(
            s"imageDhashes: undecodable image payload media_id=${m.media_id} " +
              s"(${m.bytes.length} bytes) — dedup universe would diverge from the oracle")
        val px = nnSample(img, PhGridW, PhGridH)
        val base = (m.media_id, dhashOf(px.map(phLum)))
        if (phVariant(m.media_id))
          Seq(base, (m.media_id + PhVariantOffset, dhashOf(px.map(phPerturbLum))))
        else Seq(base)
      }
    }.toDF("id", "h")
  }

  /** q223's pairing stage over ANY (id, h) hash table (factored out so the
    * spec can drive it with hand-built and degenerate hash sets): band
    * each hash into 4 × 16-bit keys row-locally, drop over-cap buckets
    * (broadcast anti-join against the ≤ 4·2¹⁶-row bucket census — bounded
    * by the KEY DOMAIN, not the corpus), self-equi-join on (band, key),
    * dedup multi-band hits, and verify candidates with the exact popcount
    * distance. Candidates ≤ 4·N·[[PhBandBucketCap]] by construction. */
  /** Row-local 4 × 16-bit banding of an (id, h) hash table — shared by the
    * batch pair stage (q223) and the incremental probe (q227) so the two
    * can never band differently. */
  private[graft] def dhashBands(hashes: DataFrame): DataFrame =
    hashes.selectExpr("id", "h",
      """stack(4, 0L, CAST(h AS BIGINT) & 65535L,
               1L, shiftrightunsigned(h, 16) & 65535L,
               2L, shiftrightunsigned(h, 32) & 65535L,
               3L, shiftrightunsigned(h, 48) & 65535L) AS (band, bk)""")

  private[graft] def dhashPairs(hashes: DataFrame): DataFrame = {
    val bands = dhashBands(hashes)
    val over = bands.groupBy("band", "bk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > PhBandBucketCap)
    val kept = bands.join(broadcast(over), Seq("band", "bk"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.h").as("a_h"), col("b.h").as("b_h"))
      .distinct()
      .selectExpr("a_id", "b_id",
        "CAST(bit_count(a_h ^ b_h) AS BIGINT) AS hamming",
        s"b_id = a_id + $PhVariantOffset AS planted")
      .filter(s"hamming <= $PhHamK")
      .orderBy("a_id", "b_id")
  }

  /** q223 — IMAGE PERCEPTUAL-HASH NEAR-DUP (dHash): the standard
    * image-dedup primitive a multimodal training pipeline runs beside
    * embedding dedup (q59) — a 64-bit difference hash over the REAL
    * decoded rasters, banded 4×16 so Hamming ≤ [[PhHamK]] candidates
    * come from equi-joins (pigeonhole-complete at that radius), never
    * an all-pairs scan. Planted brightness twins guarantee true
    * near-dups at every scale; chance band collisions between unrelated
    * images enter as candidates and are rejected by the exact popcount
    * verify (random 64-bit hashes sit near Hamming 32). The oracle
    * recomputes hashes decoder-free from the synthetic raster formula
    * at the same NN coordinates (the q207 discipline) and replays the
    * banding, cap, join, and verify relationally. */
  def dhashNearDup(docs: DataFrame): DataFrame =
    // narrow (id, h) table; read twice by the band self-join
    dhashPairs(imageDhashes(docs).localCheckpoint())

  /** q225 — IMAGE DUP CLUSTERS: q223's pairwise verdicts turned into the
    * per-image KEEP/DROP decision (the q66 stage for the image modality,
    * completing image dedup end-to-end): transitive closure of the
    * Hamming ≤ [[PhHamK]] pair graph via the same alternating
    * large-star/small-star contraction, every hashed id (originals AND
    * planted variants) appearing exactly once, `keep` marking the
    * cluster's minimum id — so each brightness twin drops in favor of
    * its original, and chance-collision chains collapse to one survivor.
    * The oracle composes the verified q223 pair SQL verbatim with a
    * recursive-CTE min-label reachability (the q66 oracle pattern), so
    * the clustering is graded independently of the contraction
    * algorithm under test.
    *
    * Scale shape: the pair stage is q223's (banded, capped, never
    * all-pairs); the contraction runs on the |near-dup| pair table with
    * one checkpointed exchange per round; the universe join is
    * co-keyed. */
  def dhashClusters(docs: DataFrame): DataFrame = {
    val hashes = imageDhashes(docs).localCheckpoint() // pairs (2×) + universe
    val pairs = dhashPairs(hashes).select("a_id", "b_id")
    hashes.select(col("id"))
      .join(graft.ops.GraphOps.connectedComponents(pairs)
          .withColumnRenamed("node", "id"),
        Seq("id"), "left_outer")
      .selectExpr("id", "COALESCE(cluster_id, id) AS cluster_id")
      .selectExpr("id", "cluster_id", "id = cluster_id AS keep")
      .orderBy("id")
  }

  /** q227 — INCREMENTAL IMAGE DEDUP (the q69 shape for the image
    * modality): an arriving image batch is deduped against the STANDING
    * dHash band index without recomputing a single corpus-side pair — the
    * production ingest path beside q223/q225's batch path, where a
    * corpus-wide pair recompute per ingest (q223 daily at 100 TB) would
    * dwarf the ingest itself.
    *
    * The arriving batch here is the md5-selected re-crawl: the perturbed
    * brightness twins ([[imageDhashes]]'s variant rows) ARE a re-download
    * of images the corpus already holds — exactly the duplicate class
    * incremental image dedup exists to catch. The standing side is every
    * base hash (in production: the persisted band index).
    *
    * Plan shape at scale (mirrors [[graft.ops.DedupOps.incrementalLshPairs]]):
    *  - the increment's band keys are batch-bounded and explicitly
    *    broadcast, so the corpus band index is probed IN PLACE via a
    *    broadcast equi-join on (band, key) — never shuffled, never
    *    self-joined;
    *  - the bucket cap is the STANDING index's discipline: over-cap
    *    buckets come from a census of corpus bands alone (in production a
    *    maintained table), and arrivals probing a hot bucket get no
    *    candidates from it — dropped on BOTH sides, mirrored in the
    *    oracle;
    *  - the exact popcount verify runs on the increment-bounded candidate
    *    table only.
    * Output: (a_id standing image, b_id arriving image, hamming, planted).
    */
  def incrementalDhashPairs(docs: DataFrame): DataFrame = {
    val hashes = imageDhashes(docs).localCheckpoint()
    incrementalDhashPairsFromHashes(
      hashes.filter(col("id") < lit(PhVariantOffset)),
      hashes.filter(col("id") >= lit(PhVariantOffset)))
  }

  /** The hash-level incremental probe stage (factored so the spec can
    * drive it with hand-built standing/arriving hash tables, like
    * [[dhashPairs]]). */
  private[graft] def incrementalDhashPairsFromHashes(
      corpusHashes: DataFrame, incHashes: DataFrame): DataFrame = {
    val corpusBands = dhashBands(corpusHashes)
    val incBands = dhashBands(incHashes)
    val over = corpusBands.groupBy("band", "bk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > PhBandBucketCap)
    val ckept = corpusBands.join(broadcast(over), Seq("band", "bk"), "left_anti")
    val ikept = incBands.join(broadcast(over), Seq("band", "bk"), "left_anti")
    ckept.as("a").join(broadcast(ikept).as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.h").as("a_h"), col("b.h").as("b_h"))
      .distinct()
      .selectExpr("a_id", "b_id",
        "CAST(bit_count(a_h ^ b_h) AS BIGINT) AS hamming",
        s"b_id = a_id + $PhVariantOffset AS planted")
      .filter(s"hamming <= $PhHamK")
      .orderBy("a_id", "b_id")
  }

  /** q228's window count: 65 index-bucketed windows → 64 adjacent-mean
    * comparisons → a 64-bit fingerprint, so the q223 band/cap/verify
    * stage applies UNCHANGED. Clips shorter than 65 samples leave some
    * windows empty; an empty window's comparison is deterministically
    * false on both engines (0 > 0), so short clips just carry fewer
    * informative bits. */
  val AfWindows = 65

  /** 64-bit audio fingerprint over unsigned 16-bit PCM samples: bucket
    * sample i into window (i·65)/n, then bit b is set iff window b's MEAN
    * amplitude exceeds window b+1's — compared exactly as the
    * cross-multiplied integers sum_b·cnt_{b+1} > sum_{b+1}·cnt_b (no
    * division, no floats — the oracle replays it in HUGEINT). The audio
    * analog of [[dhashOf]]: monotone amplitude changes (gain riding, the
    * +1 twin below) preserve every mean ordering, which is exactly the
    * invariance an energy-contour fingerprint is for. Bounds: sums ≤
    * 249·65535 < 2²⁴ and counts ≤ 249, so the cross products stay far
    * inside Long. */
  private[graft] def afFingerprintOf(samples: Array[Int]): Long = {
    val n = samples.length
    val sums = new Array[Long](AfWindows)
    val cnts = new Array[Long](AfWindows)
    var i = 0
    while (i < n) {
      val c = ((i.toLong * AfWindows) / n).toInt
      sums(c) += samples(i)
      cnts(c) += 1
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < AfWindows - 1) {
      if (sums(b) * cnts(b + 1) > sums(b + 1) * cnts(b)) h |= 1L << b
      b += 1
    }
    h
  }

  /** The audio variant-selection rule — md5("af:<id>"), independent of the
    * image rule's "ph:" domain, same first-byte-mod rendering so the
    * oracle replays membership exactly. */
  private def afVariant(id: Long): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"af:$id".getBytes("UTF-8"))
    (d(0) & 0xFF) % PhVariantBuckets == 0
  }

  /** q228's corpus stage: every audio payload REALLY decodes (the JDK WAVE
    * reader, the q81 path) and yields its 64-bit energy-contour
    * fingerprint; an md5-selected quarter additionally yields a PLANTED
    * amplitude-twin fingerprint under [[PhVariantOffset]] — the
    * perturbation (+1 per sample mod 65536) shifts every window mean
    * equally, so cross-multiplied comparisons are IDENTICAL except where
    * a sample wraps 65535→0 (~n/65536 of clips), the honest-nonzero-
    * distance discipline of the image twins. Undecodable payloads fail
    * LOUDLY (the imageDhashes rule: the dedup universe must match the
    * oracle's enumeration or the query must fail). */
  def audioFingerprints(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fromDocumentsOf(docs, Some("audio")).mapPartitions { it =>
      it.flatMap { m =>
        val pcm =
          try javax.sound.sampled.AudioSystem
            .getAudioInputStream(new ByteArrayInputStream(m.bytes)).readAllBytes()
          catch {
            case e: Exception => throw new IllegalStateException(
              s"audioFingerprints: undecodable WAV media_id=${m.media_id} " +
                s"(${m.bytes.length} bytes) — dedup universe would diverge from the oracle", e)
          }
        val n = pcm.length / 2
        val samples = Array.tabulate(n)(i =>
          (pcm(2 * i) & 0xFF) | ((pcm(2 * i + 1) & 0xFF) << 8))
        val base = (m.media_id, afFingerprintOf(samples))
        if (afVariant(m.media_id))
          Seq(base, (m.media_id + PhVariantOffset,
            afFingerprintOf(samples.map(s => (s + 1) % 65536))))
        else Seq(base)
      }
    }.toDF("id", "h")
  }

  /** q228 — AUDIO FINGERPRINT NEAR-DUP: the modality matrix's audio row —
    * a banded fingerprint dedup over the REAL decoded WAV samples, the
    * primitive a multimodal training pipeline runs beside text LSH (q37),
    * embedding cosine (q59), and image dHash (q223). The pair stage IS
    * [[dhashPairs]], verbatim — same 4×16 banding (pigeonhole-complete at
    * Hamming ≤ [[PhHamK]]), same bucket-cap discipline, same exact
    * popcount verify — because a 64-bit fingerprint's dedup plan does not
    * care which modality hashed it. Planted amplitude twins guarantee
    * true near-dups at every scale; chance collisions between unrelated
    * clips are rejected by the verify. The oracle recomputes the
    * fingerprints decoder-free from the PCM sample formula and composes
    * the SAME band/cap/verify SQL tail as q223/q227. */
  def audioNearDup(docs: DataFrame): DataFrame =
    dhashPairs(audioFingerprints(docs).localCheckpoint())

  /** The video variant-selection rule — md5("vk:<id>"), its own domain
    * beside "ph:" (image) and "af:" (audio). */
  private def vkVariant(id: Long): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"vk:$id".getBytes("UTF-8"))
    (d(0) & 0xFF) % PhVariantBuckets == 0
  }

  /** q229's corpus stage: every video container REALLY parses and its
    * KEYFRAME (frame 0) ImageIO-decodes (the q93 path), yielding the
    * frame's 64-bit dHash from the shared 9×8 NN grid; an md5-selected
    * quarter additionally yields the brightness-twin hash — the
    * re-encoded-upload class video dedup keys on (same content, nudged
    * levels, fresh container). Undecodable containers fail LOUDLY (the
    * imageDhashes rule). One parse + ONE frame decode per video — the
    * keyframe discipline is what makes video dedup affordable at corpus
    * scale: frame 0 stands in for the clip, full-sequence verify only
    * ever runs on the tiny candidate table (here the popcount verify,
    * since the synthetic corpus's frame-0 identity is the clip identity). */
  def videoKeyframeHashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fromDocumentsOf(docs, Some("video")).mapPartitions { it =>
      it.flatMap { m =>
        decodeVideo(m.bytes) match {
          case Some(frames) if frames.nonEmpty =>
            val px = nnSample(frames.head, PhGridW, PhGridH)
            val base = (m.media_id, dhashOf(px.map(phLum)))
            if (vkVariant(m.media_id))
              Seq(base, (m.media_id + PhVariantOffset, dhashOf(px.map(phPerturbLum))))
            else Seq(base)
          case _ => throw new IllegalStateException(
            s"videoKeyframeHashes: undecodable video media_id=${m.media_id} " +
              s"(${m.bytes.length} bytes) — dedup universe would diverge from the oracle")
        }
      }
    }.toDF("id", "h")
  }

  /** q229 — VIDEO KEYFRAME NEAR-DUP: the modality matrix's last row — the
    * q93 container parse + REAL frame-0 decode composed with the SAME
    * [[dhashPairs]] band/cap/popcount stage as images (q223) and audio
    * (q228): one shared banded-dedup primitive, three modalities. The
    * oracle recomputes the keyframe raster decoder-free (the frame-0 seed
    * is doc_id·1000003, [[vidFrameSeed]]) and composes the shared
    * band/cap/verify SQL tail. */
  def videoKeyframeDup(docs: DataFrame): DataFrame =
    dhashPairs(videoKeyframeHashes(docs).localCheckpoint())

  /** Single-decode combined pass: every payload is decoded ONCE per record
    * (feature extraction and raster facts share the decode) — at corpus
    * scale the decode dominates, so a second decode pass would double the
    * dominant cost. Image AND video rows carry real raster facts (video:
    * first-frame dimensions + the ordered [[framesChecksum]]); audio has
    * no raster. Undecodable payloads yield zero features with null facts
    * (a corrupt record must not kill the job). */
  def decodeAll(media: Dataset[MediaRecord], dim: Int = 16): Dataset[MediaDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        m.kind match {
          case "image" =>
            val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(m.bytes))
            if (img == null)
              MediaDecoded(m.media_id, m.kind, new Array[Float](dim), None, None, None)
            else
              MediaDecoded(m.media_id, m.kind, featuresOf(img, dim),
                Some(img.getWidth), Some(img.getHeight), Some(pixelChecksum(img)))
          case "audio" =>
            MediaDecoded(m.media_id, m.kind, audioFeatures(m.bytes, dim),
              None, None, None)
          case "video" =>
            decodeVideo(m.bytes) match {
              case Some(frames) if frames.nonEmpty =>
                MediaDecoded(m.media_id, m.kind, videoFeaturesOf(frames, dim),
                  Some(frames.head.getWidth), Some(frames.head.getHeight),
                  Some(framesChecksum(frames)))
              case _ =>
                MediaDecoded(m.media_id, m.kind, new Array[Float](dim), None, None, None)
            }
          case _ =>
            MediaDecoded(m.media_id, m.kind, new Array[Float](dim), None, None, None)
        }
      }
    }
  }

  /** q93 — video pipeline end-to-end: corpus → real per-frame PNG decode →
    * per-video frame count, dimensions, and the ordered frame-checksum
    * fold. The q50/q81 pattern for the video modality: the Spark side
    * parses the actual container and rasterizes every frame with ImageIO,
    * while the oracle recomputes every column WITHOUT a codec from the
    * (doc_id, frame)-pure raster function — a hash match proves the
    * encode → container parse → per-frame decode → checksum path is the
    * identity (PNG losslessness included). */
  def videoStats(media: Dataset[MediaRecord]): Dataset[VideoStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").mapPartitions { it =>
      it.flatMap { m =>
        decodeVideo(m.bytes).collect {
          case frames if frames.nonEmpty =>
            VideoStats(m.media_id, frames.length.toLong,
              frames.head.getWidth.toLong, frames.head.getHeight.toLong,
              framesChecksum(frames))
        }
      }
    }
  }

  /** [[videoStats]] over an already-synthesized media table (see
    * [[audioFeatureStatsOf]]) — `kind = 'video'` pushed to the parquet
    * scan; the per-frame ImageIO decode stays the measured cost. */
  def videoFeatureStatsOf(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    videoStats(media.filter(col("kind") === "video").as[MediaRecord])
      .toDF()
      // r16: the presentation sort's range sampler re-executes the
      // un-shuffled child — here the per-frame ImageIO decode of every
      // video container; materialize the narrow stats rows once (q79 fix)
      .localCheckpoint()
      .orderBy("doc_id")
  }

  /** q50 — media pipeline end-to-end: corpus → ONE decode pass → per-kind
    * stats. The image row carries REAL decoded facts (summed dimensions +
    * an order-independent XOR of pixel checksums — bit_xor so combine order
    * and overflow cannot perturb it); audio/video rows have null decode
    * facts (their decode is the declared stub). Fully oracle-checked: the
    * raster is a pure integer function of (doc_id, x, y), so the oracle
    * recomputes width/height/checksum WITHOUT a PNG decoder ([[oracles]]) —
    * a hash match proves the encode → ImageIO decode → checksum path is the
    * identity on that function (PNG losslessness included).
    *
    * It reads an already-synthesized media table (see
    * [[audioFeatureStatsOf]]): all three modalities are consumed, so no
    * kind predicate — the snapshot read replaces the per-query payload
    * synthesis; the single-decode combined pass stays the measured cost. */
  def mediaFeatureStatsOf(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    statsOfDecoded(decodeAll(media.as[MediaRecord]))
  }

  private def statsOfDecoded(decoded: Dataset[MediaDecoded]): DataFrame =
    decoded
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        expr("bit_xor(checksum)").as("pixel_checksum_xor"))
      .orderBy("kind")

  /** DuckDB oracle for [[mediaFeatureStatsOf]] — computed, not literal.
    *
    * [[pngBytes]] fills pixel (x, y) with
    * `rgb = ((seed*6364136223846793005 + (x*31 + y*131 + 17)*2654435761) >>> 16) & 0xFFFFFF`
    * in wrapping Java long arithmetic, and [[pixelChecksum]] folds
    * `h = 31*h + rgb` row-major from 1125899906842597. Both are emulated in
    * exact HUGEINT arithmetic mod 2^64 (`>>> 16` = unsigned div by 65536,
    * `& 0xFFFFFF` = mod 16777216; the signed long is recovered by
    * subtracting 2^64 above 2^63), with the row-major pixel fold as a
    * list_reduce over range(0, w*h) where x = i % w, y = i // w.
    * The Spark side never sees these formulas — it decodes the actual PNG
    * bytes with ImageIO — so a hash match independently verifies the whole
    * encode/decode/checksum/aggregate path. */
  def oracles: Map[String, String] = {
    val U = "18446744073709551616" // 2^64
    val px = s"((((doc_id::HUGEINT * 6364136223846793005 + " +
      s"((i % w) * 31 + (i // w) * 131 + 17) * 2654435761) % $U + $U) % $U // 65536) % 16777216)"
    // video pixel: the SAME raster formula at the per-frame seed
    // doc_id*1000003 + f ([[vidFrameSeed]]), frame dims vw×vh; the
    // per-video checksum is the ordered outer fold over the per-frame
    // folds ([[framesChecksum]]) — nested list_reduce, all mod 2^64
    def vFold(wCol: String, hCol: String, nfCol: String) =
      s"""list_reduce(
            list_prepend(1125899906842597::HUGEINT,
              list_transform(range(0, $nfCol), f ->
                list_reduce(
                  list_prepend(1125899906842597::HUGEINT,
                    list_transform(range(0, $wCol * $hCol), i ->
                      ((((doc_id::HUGEINT * 1000003 + f) * 6364136223846793005 +
                         ((i % $wCol) * 31 + (i // $wCol) * 131 + 17) * 2654435761)
                        % $U + $U) % $U // 65536) % 16777216)),
                  (acc, p) -> (acc * 31 + p) % $U))),
            (acc, p) -> (acc * 31 + p) % $U)"""
    // q81: [[wavBytes]] stores sample i as the unsigned 16-bit
    // `((doc_id*6364136223846793005 + (i+1)*2654435761) >>> 16) & 0xFFFF`,
    // and [[audioStats]] folds h = 31·h + u16 over the DECODED samples.
    // The oracle recomputes both from the formula in HUGEINT mod-2^64
    // arithmetic — no WAV parser anywhere on the DuckDB side.
    val u16 = s"((((doc_id::HUGEINT * 6364136223846793005 + " +
      s"(i + 1) * 2654435761) % $U + $U) % $U // 65536) % 65536)"
    Map(
      "q81_audio_features" ->
        s"""WITH a AS (
              SELECT doc_id,
                     8000 + (CAST(n_chars AS INTEGER) % 3) * 4000 AS rate,
                     CAST(n_chars AS INTEGER) % 200 + 50 AS n
              FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 1),
            chk AS (
              SELECT doc_id,
                     CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - $U
                               ELSE hu END AS BIGINT) AS cks
              FROM (SELECT doc_id,
                           list_reduce(
                             list_prepend(1125899906842597::HUGEINT,
                               list_transform(range(0, n), i -> $u16)),
                             (acc, p) -> (acc * 31 + p) % $U) AS hu
                    FROM a))
            SELECT a.doc_id AS doc_id,
                   CAST(rate AS BIGINT) AS sample_rate,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(n AS BIGINT) * 1000 // rate AS duration_ms,
                   chk.cks AS sample_checksum
            FROM a JOIN chk ON a.doc_id = chk.doc_id
            ORDER BY doc_id""",
      // q207: the same raster formula sampled at the NN thumbnail
      // coordinates ((t%4)·w//4, (t//4)·h//4) — identical fold
      // constants, identical signed conversion; any wrong coordinate,
      // channel, or order breaks the hash
      "q207_thumbnail" -> {
        val side = ThumbSide
        def pxy(x: String, y: String) =
          s"((((doc_id::HUGEINT * 6364136223846793005 + " +
            s"(($x) * 31 + ($y) * 131 + 17) * 2654435761) % $U + $U) % $U // 65536) % 16777216)"
        val sampled = pxy(s"(i % $side) * w // $side", s"(i // $side) * h // $side")
        s"""WITH m AS (SELECT doc_id,
                              CAST(n_chars AS INTEGER) % 16 + 4 AS w,
                              CAST(n_chars AS INTEGER) % 12 + 3 AS h
                       FROM documents WHERE doc_id % 3 = 0),
                px AS (SELECT doc_id, w, h,
                              list_transform(range(0, ${side * side}),
                                             i -> $sampled) AS p
                       FROM m),
                f AS (SELECT doc_id, w, h, p,
                             list_reduce(
                               list_prepend(1125899906842597::HUGEINT, p),
                               (acc, v) -> (acc * 31 + v) % $U) AS hu
                      FROM px)
           SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
                  CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - $U
                            ELSE hu END AS BIGINT) AS thumb_checksum,
                  CAST(list_aggregate(p, 'sum') AS BIGINT) AS thumb_sum,
                  CAST(p[1] AS BIGINT) AS top_left
           FROM f ORDER BY doc_id"""
      },
      // q223: factored below ([[q223Sql]]) so q225 composes it verbatim
      "q223_image_dhash" -> q223Sql,
      "q227_image_increment_dedup" -> q227Sql,
      "q228_audio_fingerprint_dup" -> q228Sql,
      "q229_video_keyframe_dup" -> q229Sql,
      // q225: the verified q223 pair SQL composed VERBATIM (the q66
      // oracle pattern) with a recursive-CTE min-label reachability —
      // component minima independent of the star-contraction algorithm
      // under test — over the same id universe (image originals + the
      // md5-selected planted variants)
      "q225_image_dhash_clusters" ->
        s"""WITH RECURSIVE pairs AS ($q223Sql),
              u AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0
                    UNION ALL
                    SELECT doc_id + $PhVariantOffset FROM documents
                    WHERE doc_id % 3 = 0
                      AND ('0x' || substr(md5('ph:' || CAST(doc_id AS VARCHAR)),
                                          1, 2))::BIGINT % $PhVariantBuckets = 0),
              edges AS (SELECT a_id AS eu, b_id AS ev FROM pairs
                        UNION ALL SELECT b_id, a_id FROM pairs),
              walk(node, label) AS (
                SELECT eu AS node, eu AS label FROM edges
                UNION
                SELECT e.ev AS node, w.label AS label
                FROM walk w JOIN edges e ON e.eu = w.node),
              cc AS (SELECT node, MIN(label) AS cluster_id
                     FROM walk GROUP BY node)
           SELECT u.id AS id, COALESCE(cc.cluster_id, u.id) AS cluster_id,
                  u.id = COALESCE(cc.cluster_id, u.id) AS keep
           FROM u LEFT OUTER JOIN cc ON u.id = cc.node
           ORDER BY id""",
      "q50_media_features" ->
      s"""WITH m AS (
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(n_chars AS INTEGER) % 16 + 4 AS w,
                   CAST(n_chars AS INTEGER) % 12 + 3 AS h,
                   CAST(n_chars AS INTEGER) % 10 + 4 AS vw,
                   CAST(n_chars AS INTEGER) % 8 + 3 AS vh,
                   CAST(n_chars AS INTEGER) % 6 + 2 AS nf
            FROM documents),
          chk AS (
            SELECT doc_id,
                   CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - $U
                             ELSE hu END AS BIGINT) AS cks
            FROM (SELECT doc_id,
                         list_reduce(
                           list_prepend(1125899906842597::HUGEINT,
                             list_transform(range(0, w*h), i -> $px)),
                           (acc, p) -> (acc * 31 + p) % $U) AS hu
                  FROM m WHERE kind = 'image')),
          vchk AS (
            SELECT doc_id,
                   CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - $U
                             ELSE hu END AS BIGINT) AS cks
            FROM (SELECT doc_id, ${vFold("vw", "vh", "nf")} AS hu
                  FROM m WHERE kind = 'video'))
          SELECT m.kind AS kind, COUNT(*) AS n_media,
                 CAST(SUM(CASE WHEN m.kind = 'image' THEN m.w
                               WHEN m.kind = 'video' THEN m.vw END) AS BIGINT) AS sum_width,
                 CAST(SUM(CASE WHEN m.kind = 'image' THEN m.h
                               WHEN m.kind = 'video' THEN m.vh END) AS BIGINT) AS sum_height,
                 bit_xor(COALESCE(chk.cks, vchk.cks)) AS pixel_checksum_xor
          FROM m LEFT JOIN chk ON m.doc_id = chk.doc_id
               LEFT JOIN vchk ON m.doc_id = vchk.doc_id
          GROUP BY m.kind ORDER BY m.kind""",
      "q93_video_features" ->
        s"""WITH v AS (
              SELECT doc_id,
                     CAST(n_chars AS INTEGER) % 10 + 4 AS vw,
                     CAST(n_chars AS INTEGER) % 8 + 3 AS vh,
                     CAST(n_chars AS INTEGER) % 6 + 2 AS nf
              FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
            chk AS (
              SELECT doc_id,
                     CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - $U
                               ELSE hu END AS BIGINT) AS cks
              FROM (SELECT doc_id, ${vFold("vw", "vh", "nf")} AS hu FROM v))
            SELECT v.doc_id AS doc_id,
                   CAST(nf AS BIGINT) AS n_frames,
                   CAST(vw AS BIGINT) AS width,
                   CAST(vh AS BIGINT) AS height,
                   chk.cks AS frames_checksum
            FROM v JOIN chk ON v.doc_id = chk.doc_id
            ORDER BY doc_id""")
  }

  /** q223's oracle SQL, factored so q225 composes it VERBATIM (the q66
    * pattern — the cluster oracle's edges cannot drift from the
    * individually-hash-checked pair query): the raster formula sampled at
    * the dHash 9×8 NN grid, base + perturbed (+1 mod 256 per channel)
    * integer luminances, the 64-comparison bit fold as a sum of distinct
    * powers of two in HUGEINT, the same md5 variant rule, and the
    * banding / bucket-cap / band-join / popcount verify replayed
    * relationally. */
  /** The shared dHash-computation CTE prefix (m → p → lu → hh): the raster
    * formula sampled at the 9×8 NN grid, base + perturbed luminances, the
    * 64-comparison bit fold — factored so q223 and q227 hash IDENTICALLY
    * (the same discipline as q225 composing q223's pair SQL verbatim). */
  private def phHashCtesFor(mCte: String, seedExpr: String): String = {
    val U = "18446744073709551616" // 2^64
    val gw = PhGridW
    val bits = (gw - 1) * PhGridH
    def pxy(x: String, y: String) =
      s"(((((($seedExpr)::HUGEINT) * 6364136223846793005 + " +
        s"(($x) * 31 + ($y) * 131 + 17) * 2654435761) % $U + $U) % $U // 65536) % 16777216)"
    val sampled = pxy(s"(t % $gw) * w // $gw", s"(t // $gw) * h // $PhGridH")
    def dh(lumList: String) =
      s"""list_aggregate(list_transform(range(0, $bits), b ->
            CASE WHEN $lumList[(b // ${gw - 1}) * $gw + (b % ${gw - 1}) + 1]
                      > $lumList[(b // ${gw - 1}) * $gw + (b % ${gw - 1}) + 2]
                 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END), 'sum')"""
    s"""m AS ($mCte),
            p AS (SELECT doc_id,
                         list_transform(range(0, ${gw * PhGridH}),
                                        t -> $sampled) AS pv
                  FROM m),
            lu AS (SELECT doc_id,
                          list_transform(pv, v ->
                            v // 65536 + (v // 256) % 256 + v % 256) AS l0,
                          list_transform(pv, v ->
                            (v // 65536 + 1) % 256 + ((v // 256) % 256 + 1) % 256
                            + (v % 256 + 1) % 256) AS l1
                   FROM p),
            hh AS (SELECT doc_id, ${dh("l0")} AS hu, ${dh("l1")} AS vhu
                   FROM lu)"""
  }

  /** The q223 instance of the raster-hash prefix: image docs, image dims,
    * the image seed (doc_id itself — [[pngBytes]]' seed for the image
    * leg). */
  private lazy val phHashCtes: String = phHashCtesFor(
    s"""SELECT doc_id,
               CAST(n_chars AS INTEGER) % 16 + 4 AS w,
               CAST(n_chars AS INTEGER) % 12 + 3 AS h
        FROM documents WHERE doc_id % 3 = 0""",
    "doc_id")

  /** 64-bit unsigned HUGEINT → signed BIGINT two's-complement rendering. */
  private def phSigned(c: String): String = {
    val U = "18446744073709551616"
    s"CAST(CASE WHEN $c >= 9223372036854775808 THEN $c - $U ELSE $c END AS BIGINT)"
  }

  /** The band/cap/verify SQL tail over a hash-universe CTE `u(id, hu)` —
    * ONE rendering shared by q223 (image) and q228 (audio), because the
    * banded-dedup plan does not care which modality produced the 64-bit
    * hash. Appended after a `WITH ...,` prefix that defines `u`. */
  private lazy val phPairTailSql: String =
    s"""bands AS (SELECT id, hu, band,
                             (hu // (1::HUGEINT << (16 * band))) % 65536 AS bk
                      FROM u CROSS JOIN (VALUES (0), (1), (2), (3)) AS vb(band)),
            over AS (SELECT band, bk FROM bands
                     GROUP BY 1, 2 HAVING COUNT(*) > $PhBandBucketCap),
            kept AS (SELECT bands.* FROM bands ANTI JOIN over USING (band, bk)),
            cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
                            a.hu AS ah, b.hu AS bh
                     FROM kept a JOIN kept b
                       ON a.band = b.band AND a.bk = b.bk AND a.id < b.id),
            v AS (SELECT a_id, b_id,
                         CAST(bit_count(xor(${phSigned("ah")}, ${phSigned("bh")}))
                              AS BIGINT) AS hamming,
                         b_id = a_id + $PhVariantOffset AS planted
                  FROM cand)
       SELECT a_id, b_id, hamming, planted FROM v
       WHERE hamming <= $PhHamK ORDER BY a_id, b_id"""

  private lazy val q223Sql: String =
    s"""WITH $phHashCtes,
            u AS (SELECT doc_id AS id, hu FROM hh
                  UNION ALL
                  SELECT doc_id + $PhVariantOffset, vhu FROM hh
                  WHERE ('0x' || substr(md5('ph:' || CAST(doc_id AS VARCHAR)),
                                        1, 2))::BIGINT % $PhVariantBuckets = 0),
            $phPairTailSql"""

  /** q227's oracle: the SAME hash CTEs as q223 ([[phHashCtes]], verbatim),
    * split standing-vs-arriving instead of self-joined — base hashes form
    * the standing index, the md5-selected perturbed variants form the
    * arriving re-crawl batch, the over-cap census runs on the STANDING
    * bands alone (the maintained-index discipline), and the band join
    * crosses the split. */
  private lazy val q227Sql: String =
    s"""WITH $phHashCtes,
            corp AS (SELECT doc_id AS id, hu FROM hh),
            inc AS (SELECT doc_id + $PhVariantOffset AS id, vhu AS hu FROM hh
                    WHERE ('0x' || substr(md5('ph:' || CAST(doc_id AS VARCHAR)),
                                          1, 2))::BIGINT % $PhVariantBuckets = 0),
            cbands AS (SELECT id, hu, band,
                              (hu // (1::HUGEINT << (16 * band))) % 65536 AS bk
                       FROM corp CROSS JOIN (VALUES (0), (1), (2), (3)) AS vb(band)),
            ibands AS (SELECT id, hu, band,
                              (hu // (1::HUGEINT << (16 * band))) % 65536 AS bk
                       FROM inc CROSS JOIN (VALUES (0), (1), (2), (3)) AS vb(band)),
            over AS (SELECT band, bk FROM cbands
                     GROUP BY 1, 2 HAVING COUNT(*) > $PhBandBucketCap),
            ckept AS (SELECT cbands.* FROM cbands ANTI JOIN over USING (band, bk)),
            ikept AS (SELECT ibands.* FROM ibands ANTI JOIN over USING (band, bk)),
            cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
                            a.hu AS ah, b.hu AS bh
                     FROM ckept a JOIN ikept b
                       ON a.band = b.band AND a.bk = b.bk),
            v AS (SELECT a_id, b_id,
                         CAST(bit_count(xor(${phSigned("ah")}, ${phSigned("bh")}))
                              AS BIGINT) AS hamming,
                         b_id = a_id + $PhVariantOffset AS planted
                  FROM cand)
       SELECT a_id, b_id, hamming, planted FROM v
       WHERE hamming <= $PhHamK ORDER BY a_id, b_id"""

  /** q228's oracle: the PCM sample formula replayed decoder-free in
    * HUGEINT (the q81 discipline — sample i of seed s is a pure wrapping
    * function), bucketed into the 65 windows, base + (+1 mod 65536)
    * perturbed window sums, the 64 cross-multiplied mean comparisons
    * folded to a hash, the "af:" md5 variant rule — then the SAME
    * [[phPairTailSql]] as q223, verbatim. */
  private lazy val q228Sql: String = {
    val U = "18446744073709551616" // 2^64
    val w = AfWindows
    // unsigned 16-bit PCM sample i of doc_id (bits 16..31 of the wrapped
    // 64-bit product), as a HUGEINT expression over lambda var i
    val uExpr =
      s"((((doc_id::HUGEINT * 6364136223846793005 + (i + 1) * 2654435761) " +
        s"% $U + $U) % $U) // 65536) % 65536"
    // window w-sums over the sample list: cell of sample i is (i*65)//n
    def winSum(valExpr: String) =
      s"""list_transform(range(0, $w), b ->
            list_aggregate(list_transform(range(0, n), i ->
              CASE WHEN (i * $w) // n = b THEN $valExpr ELSE 0::HUGEINT END),
              'sum'))"""
    def hashOf(ws: String, wc: String) =
      s"""list_aggregate(list_transform(range(0, ${w - 1}), b ->
            CASE WHEN $ws[b + 1] * $wc[b + 2] > $ws[b + 2] * $wc[b + 1]
                 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END), 'sum')"""
    s"""WITH base AS (SELECT doc_id, CAST(n_chars AS INTEGER) % 200 + 50 AS n
                      FROM documents WHERE doc_id % 3 = 1),
            sl AS (SELECT doc_id, n,
                          list_transform(range(0, n), i -> $uExpr) AS s
                   FROM base),
            win AS (SELECT doc_id,
                           ${winSum("s[i + 1]")} AS ws,
                           ${winSum("1::HUGEINT")} AS wc,
                           ${winSum("(s[i + 1] + 1) % 65536")} AS ws1
                    FROM sl),
            hh AS (SELECT doc_id,
                          ${hashOf("ws", "wc")} AS hu,
                          ${hashOf("ws1", "wc")} AS vhu
                   FROM win),
            u AS (SELECT doc_id AS id, hu FROM hh
                  UNION ALL
                  SELECT doc_id + $PhVariantOffset, vhu FROM hh
                  WHERE ('0x' || substr(md5('af:' || CAST(doc_id AS VARCHAR)),
                                        1, 2))::BIGINT % $PhVariantBuckets = 0),
            $phPairTailSql"""
  }

  /** q229's oracle: [[phHashCtesFor]] instantiated for the VIDEO third —
    * keyframe dims (vw × vh), the frame-0 seed doc_id·1000003
    * ([[vidFrameSeed]]), the "vk:" md5 variant rule — then the shared
    * band/cap/verify tail, verbatim. */
  private lazy val q229Sql: String =
    s"""WITH ${phHashCtesFor(
          s"""SELECT doc_id,
                     CAST(n_chars AS INTEGER) % 10 + 4 AS w,
                     CAST(n_chars AS INTEGER) % 8 + 3 AS h
              FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2""",
          "doc_id * 1000003")},
            u AS (SELECT doc_id AS id, hu FROM hh
                  UNION ALL
                  SELECT doc_id + $PhVariantOffset, vhu FROM hh
                  WHERE ('0x' || substr(md5('vk:' || CAST(doc_id AS VARCHAR)),
                                        1, 2))::BIGINT % $PhVariantBuckets = 0),
            $phPairTailSql"""
}
