package graft.operators

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, and a per-partition "decode / feature-extract" stage.
  *
  * All three media tiers round-trip through REAL JDK codecs — no
  * external library, no stubs:
  *  - IMAGES: [[packImages]] renders deterministic PNG bytes with
  *    `javax.imageio.ImageIO`, and [[decodeImages]] decodes those bytes
  *    back per partition, emitting width/height/band-count/pixel
  *    checksums read from the DECODED raster. Because PNG is lossless
  *    and the pixel pattern is a closed-form function of `doc_id`, the
  *    decoded metadata is exactly reproducible in SQL — the oracle
  *    replays the formula, so a wrong decode cannot hash green.
  *    [[imageAHash]]/[[imageNearDup]] build on the decoded raster: a
  *    64-bit average hash with threshold-exact LSH banding for
  *    near-dup detection — the crawl-scale image dedup stage.
  *  - AUDIO: [[packAudio]] containers closed-form 16-bit PCM as actual
  *    RIFF/WAVE bytes and [[decodeAudio]] parses them back with the
  *    JDK's `javax.sound.sampled.AudioSystem`, reporting header
  *    metadata and integer signal statistics from the DECODED samples
  *    (WAV PCM is lossless, so the oracle replays the sample formula).
  *  - VIDEO: [[packVideos]] encodes a multi-frame animated GIF per doc
  *    (the one multi-frame container the JDK can both write and read —
  *    palette-indexed, so the gray ramp survives losslessly) and
  *    [[decodeVideoFrames]] reads every frame back through
  *    `ImageReader.read(i)`, emitting per-frame raster metadata the
  *    oracle replays closed-form. A production deployment swaps the
  *    GIF reader for an MP4 demuxer behind the same per-partition
  *    plumbing.
  *
  * [[extractFeatures]] (byte-level md5 + length + leading byte) is the
  * codec-agnostic FINGERPRINT stage — exact-dedup/integrity metadata a
  * media pipeline records for every payload before any decode.
  */
object Multimodal {

  // ImageIO's default useCache=true backs EVERY codec stream with a
  // temp FILE on disk; all payloads here are in-memory byte arrays, so
  // the disk round trip is pure per-row overhead (guide §4.5 — r16
  // measured the decode queries 1.4-2× faster with the memory cache).
  // JVM-global and loss-free: the memory cache is semantically
  // identical, it only changes where the codec buffers.
  javax.imageio.ImageIO.setUseCache(false)

  /** Per-thread cached PNG/GIF codec handles: `ImageIO.read`/`write`
    * scan the plugin registry and construct a fresh reader/writer per
    * call — per tiny image that construction dominates the actual
    * codec work (guide §4.5: initialise heavyweight state once per
    * task, not per row). Thread-locals amortise across every task a
    * pool thread runs; `setInput(null)`/`setOutput(null)` resets state
    * between payloads. Output bytes/pixels are produced by the same
    * plugin classes `ImageIO.read`/`write` would pick — identical
    * results, minus the per-call construction. */
  private val pngWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
  private val pngReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next())
  private[operators] val gifWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())
  private val gifReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())

  private[operators] def writePng(img: java.awt.image.RenderedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    val w = pngWriterTl.get()
    try { w.setOutput(ios); w.write(img) }
    finally { w.setOutput(null); ios.close() }
    out.toByteArray
  }

  /** WAV SPI providers resolved ONCE per JVM. `AudioSystem.write` /
    * `getAudioInputStream` resolve their provider lists through a
    * SYNCHRONIZED registry lookup (JDK13Services) on every call — with
    * 32 concurrent decode tasks that global lock serializes the whole
    * stage (r16 profile: q_mm_audio_decode taskTime 1.2 s single-task →
    * 90+ s across 32 tasks, nearly all lock contention). These are the
    * same provider instances AudioSystem would pick, tried in the same
    * first-accepting-reader order — byte-identical results. */
  private lazy val wavReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }
  private lazy val wavWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** The one provider that accepts RIFF/WAVE payloads, resolved once by
    * probing a minimal WAV. The provider list walk is NOT free per call:
    * the JDK registers its MIDI-file reader ahead of the WAVE reader,
    * and that reader probes via `MidiSystem` — another SYNCHRONIZED
    * registry lookup — so every decode paid a global lock even with the
    * provider LIST cached (r16 microbench: open-only 0.25 s @1 thread →
    * 0.59 s wall @32 threads). */
  private lazy val primaryWavReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    val pcm = new Array[Byte](4)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 2L)
    val probe = writeWav(ais)
    wavReaders.find { r =>
      try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close(); true }
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => false }
    }
  }

  /** Parse WAV bytes with the cached providers — AudioSystem's
    * first-reader-that-accepts contract without its synchronized
    * registry walk. The probed WAVE reader is tried first; on rejection
    * the full provider walk runs in AudioSystem's original order. The
    * shortcut cannot change which reader wins: the JDK readers accept
    * disjoint magic numbers (FORM/.snd/MThd/RIFF), so a payload the
    * WAVE reader accepts is rejected by every provider ahead of it. */
  private[operators] def openWav(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    primaryWavReader.foreach { r =>
      try return r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    val rs = wavReaders.iterator
    while (rs.hasNext) {
      try return rs.next().getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no cached provider accepts the payload")
  }

  /** Container PCM as RIFF/WAVE bytes with the cached providers — the
    * AudioSystem.write path minus the synchronized registry walk. */
  private[operators] def writeWav(ais: javax.sound.sampled.AudioInputStream): Array[Byte] = {
    val tpe = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val ws = wavWriters.iterator
    while (ws.hasNext) {
      val w = ws.next()
      if (w.isFileTypeSupported(tpe, ais)) {
        val out = new java.io.ByteArrayOutputStream()
        w.write(ais, tpe, out)
        return out.toByteArray
      }
    }
    throw new IllegalArgumentException("no cached WAVE writer available")
  }

  private[operators] def readPng(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val r = pngReaderTl.get()
    try { r.setInput(iis, true, true); r.read(0) }
    finally { r.setInput(null); iis.close() }
  }

  /** doc_id fan-out for the per-row codec work every pack* does next:
    * EXPLICIT partition count (REPARTITION_BY_NUM). The previous bare
    * `repartition(col)` planned as REPARTITION_BY_COL, which AQE
    * freely coalesces — and this shuffle is a few KB of ids, so AQE
    * collapsed it to ONE partition and the whole corpus encode+decode
    * ran single-threaded (r16 profile: q_mm_decode_real tasks=4 with
    * 3.0 s of taskTime in one). An explicit count is exempt from AQE
    * coalescing; it tracks the session's parallelism, never a
    * constant. The repartition remains fixture-only plumbing —
    * production payloads arrive from object storage already spread
    * over many files (see [[packImages]]). */
  private def codecIds(docs: DataFrame): Dataset[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long]
  }

  case class Media(doc_id: Long, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, payload_len: Long,
                           payload_md5: String, first_byte: Long)

  /** Pack a text column into a binary payload column (stand-in for
    * image/audio bytes read from object storage). */
  def packPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  object PayloadDigest {
    /** Codec-agnostic payload fingerprint: byte-level md5 digest,
      * length, and leading byte — the exact-dedup/integrity metadata a
      * media pipeline records for every binary payload regardless of
      * format. The signature — bytes in, typed features out,
      * per-partition handle — is shared with the real decoders. */
    def features(md: MessageDigest, m: Media): MediaFeatures = {
      md.reset()
      val digest = md.digest(m.payload).map("%02x".format(_)).mkString
      MediaFeatures(m.doc_id, m.payload.length.toLong, digest,
        if (m.payload.nonEmpty) m.payload(0).toLong & 0xff else -1L)
    }
  }

  /** Per-partition feature extraction: one decoder handle per partition,
    * streamed over the iterator (never materializes a partition). */
  def extractFeatures(spark: SparkSession, packed: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    packed.as[Media].mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.map(PayloadDigest.features(md, _))
    }
  }

  /** Deterministic image fixture: dimensions and a gray ramp derived
    * from `doc_id` alone, so both the Spark decode path and the DuckDB
    * oracle can compute the expected metadata independently. Kept tiny
    * (≤16×14) — the point is a REAL codec round trip, not pixel volume. */
  object ImageFixture {
    def widthOf(docId: Long): Int = (8 + docId % 9).toInt
    def heightOf(docId: Long): Int = (8 + docId % 7).toInt
    def grayAt(docId: Long, x: Int, y: Int): Int =
      ((docId + 31L * x + 7L * y) % 256).toInt
    /** Variant pixel function: the base ramp shifted by `delta`
      * brightness steps (mod 256) — a near-duplicate of the base image
      * for small deltas, used by the perceptual-hash dedup fixture. */
    def grayAt(docId: Long, delta: Int, x: Int, y: Int): Int =
      ((docId + delta + 31L * x + 7L * y) % 256).toInt

    /** WRAP-FREE ramp for the DCT-hash fixtures: range 32..171, so
      * every corruption below stays inside [0, 255] with NO mod-256
      * wraparound. The base ramp's wraps matter: a +1 brightness shift
      * on the mod-256 ramp turns ~1/256 of pixels into −256 impulses,
      * which are BROADBAND noise — they perturb the whole DCT spectrum
      * and favor pixel-domain hashing (measured: aHash 0.5 vs pHash 5.4
      * mean Hamming on the delta-1 corpus). The corruptions a
      * frequency-domain hash is FOR — brightness shift, contrast-ish
      * tilt, high-frequency noise — are additive, not wrapping. */
    def grayLpAt(docId: Long, x: Int, y: Int): Int =
      (32 + (docId + 31L * x + 7L * y) % 140).toInt

    /** Composite NEAR-DUP corruption of [[grayLpAt]]: +2x tilt (a
      * low-frequency, genuinely-visible change), +10 brightness, and a
      * ±16 zero-mean checkerboard (pure Nyquist noise). Measured at
      * sf0.01: pHash Hamming ≤ 6 (99.4% ≤ 4) while aHash spreads to
      * mean 7.5 / max 13 — the corpus where the DCT hash is the only
      * workable dedup key. Range: [16, 227] — wrap-free. */
    def grayCorruptAt(docId: Long, x: Int, y: Int): Int =
      grayLpAt(docId, x, y) + 2 * x + 10 + 16 * (((x + y) % 2) * 2 - 1)

    /** Pure checkerboard noise (±amp, zero-mean) over [[grayLpAt]] —
      * the [[fingerprintRobustness]] fixture: the 2×2 box prefilter
      * annihilates it EXACTLY (every 2×2 window sums to 0), so the DCT
      * hash moves zero bits while aHash flips every sampled cell the
      * amplitude pushes across the grid mean. Keep amp ≤ 32. */
    def grayNoisyAt(docId: Long, amp: Int, x: Int, y: Int): Int =
      grayLpAt(docId, x, y) + amp * (((x + y) % 2) * 2 - 1)

    private def renderWith(docId: Long, f: (Int, Int) => Int): Array[Byte] = {
      val w = widthOf(docId)
      val h = heightOf(docId)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = f(x, y)
          require(g >= 0 && g <= 255, s"gray $g out of byte range")
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writePng(img)
    }

    def renderPngLp(docId: Long): Array[Byte] =
      renderWith(docId, (x, y) => grayLpAt(docId, x, y))
    def renderPngCorrupt(docId: Long): Array[Byte] =
      renderWith(docId, (x, y) => grayCorruptAt(docId, x, y))
    def renderPngNoisy(docId: Long, amp: Int): Array[Byte] =
      renderWith(docId, (x, y) => grayNoisyAt(docId, amp, x, y))

    /** Render the doc's pixel pattern and ENCODE it as real PNG bytes
      * via the JDK's built-in codec (r = g = b = gray ramp). */
    def renderPng(docId: Long): Array[Byte] = renderPng(docId, 0)

    def renderPng(docId: Long, delta: Int): Array[Byte] = {
      val w = widthOf(docId)
      val h = heightOf(docId)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = grayAt(docId, delta, x, y)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writePng(img)
    }
  }

  case class ImageMedia(doc_id: Long, png: Array[Byte])
  case class DecodedImage(doc_id: Long, width: Long, height: Long,
                          channels: Long, pixel_sum: Long, pixel_checksum: Long)

  /** One PNG payload per document — the binary image column a real
    * table would carry (here generated in-engine so the decode is
    * verifiable; in production these bytes arrive from object storage,
    * already spread over many files — the repartition below exists only
    * because the FIXTURE derives from one small parquet file). */
  def packImages(spark: SparkSession, docs: DataFrame): Dataset[ImageMedia] = {
    import spark.implicits._
    // The id column rides one tiny shuffle so the codec work spreads
    // over the session's full parallelism — the documents scan is a
    // single small file, and without this every encode+decode of the
    // corpus lands in ONE task (measured 2.6 s -> sub-second at sf0.1).
    codecIds(docs)
      .mapPartitions(_.map(id => ImageMedia(id, ImageFixture.renderPng(id))))
  }

  /** REAL image decode: `ImageIO.read` each PNG payload per partition
    * and report metadata measured from the DECODED raster — dimensions,
    * band count, and two pixel checksums (plain sum + position-weighted
    * sum). PNG being lossless, these equal the fixture's closed-form
    * pixel function, which the DuckDB oracle replays — a broken decode
    * (wrong dims, channel order, row stride) cannot hash green.
    * Scale: narrow mapPartitions, one decoder call per row, output is
    * six fixed-width columns per image regardless of payload size. */
  def decodeImages(spark: SparkSession, packed: Dataset[ImageMedia]): Dataset[DecodedImage] = {
    import spark.implicits._
    packed.mapPartitions(_.map { m =>
      val img = readPng(m.png)
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var chk = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val gray = img.getRGB(x, y) & 0xff // r == g == b in the fixture
          sum += gray
          chk += gray.toLong * (y.toLong * w + x + 1)
          x += 1
        }
        y += 1
      }
      DecodedImage(m.doc_id, w.toLong, h.toLong,
        img.getRaster.getNumBands.toLong, sum, chk)
    })
  }

  case class ImageHistogram(doc_id: Long, hist: Array[Long])

  /** `bins`-bin grayscale histogram measured from the DECODED raster
    * (dense — zero bins included, so a consumer can index it directly).
    * `bins` must divide 256. Same narrow mapPartitions shape as
    * [[decodeImages]]: one decoder call per row, O(bins) output. */
  def imageGrayHistogram(spark: SparkSession, packed: Dataset[ImageMedia],
                         bins: Int): Dataset[ImageHistogram] = {
    import spark.implicits._
    require(256 % bins == 0, s"bins must divide 256, got $bins")
    val shift = 256 / bins
    packed.mapPartitions(_.map { m =>
      val img = readPng(m.png)
      val hist = new Array[Long](bins)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          hist((img.getRGB(x, y) & 0xff) / shift) += 1
          x += 1
        }
        y += 1
      }
      ImageHistogram(m.doc_id, hist)
    })
  }

  /** Cross-modal (image ↔ text) alignment scorecard — the CLIP-filter
    * shape of a multimodal curation pipeline: score every (caption,
    * image) pair by the cosine of two same-dimensional modality
    * signatures and flag the pairs below the alignment floor. Here the
    * signatures are measured content statistics (a `bins`-bin gray
    * histogram from the DECODED raster and a `bins`-bin word-length
    * histogram from the caption); a production pipeline swaps them for
    * CLIP image/text tower embeddings — every plan shape downstream of
    * the two feature extractors (keyed equi-join, one keyed aggregate,
    * per-row cosine from exact integer sums) is the one it would run.
    * The cosine is assembled from INTEGER count sums (dot, |t|², |i|²)
    * so the only floating step is one fixed `round(x/sqrt(y·z), 6)`
    * both engines evaluate identically. Scale: decode is linear in
    * payload bytes; everything after is O(bins) per document; the join
    * is doc_id-keyed (no pairwise blow-up — alignment is per-pair,
    * unlike near-dup). */
  def imageTextAlignment(spark: SparkSession, docs: DataFrame, bins: Int,
                         minAlign: Double): DataFrame = {
    val imgs = imageGrayHistogram(spark, packImages(spark, docs), bins).toDF()
    val textBins = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        (least(greatest(length(col("w")), lit(1)), lit(bins)) - 1).as("bin"))
      .groupBy("doc_id", "bin").agg(count(lit(1)).as("tc"))
    val perDoc = textBins.join(imgs, Seq("doc_id"))
      .select(col("doc_id"), col("tc"),
        element_at(col("hist"), col("bin").cast("int") + 1).as("ih"),
        col("hist"))
      .groupBy("doc_id")
      .agg(sum(col("tc") * col("ih")).as("dot"),
        sum(col("tc") * col("tc")).as("tn2"),
        first(col("hist")).as("hist"))
      .withColumn("in2",
        aggregate(col("hist"), lit(0L), (acc, h) => acc + h * h))
    perDoc
      .select(col("doc_id"),
        round(col("dot") / sqrt((col("tn2") * col("in2")).cast("double")), 6)
          .as("align"))
      .withColumn("is_aligned",
        when(col("align") >= minAlign, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  case class ResizedMedia(doc_id: Long, orig_len: Long, resized_len: Long,
                          resized_md5: String)

  /** "Resize" a binary payload by keeping every `factor`-th byte — the
    * deterministic stand-in for an image/audio downsample (no codecs in
    * this environment; a real resize swaps the byte stride for a codec
    * call with the identical typed mapPartitions plumbing). */
  def resizePayloads(spark: SparkSession, packed: DataFrame,
                     factor: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    packed.as[Media].mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.map { m =>
        val small = Array.tabulate(
          (m.payload.length + factor - 1) / factor)(i => m.payload(i * factor))
        md.reset()
        ResizedMedia(m.doc_id, m.payload.length.toLong, small.length.toLong,
          md.digest(small).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Frame sampling over a binary payload: treat the payload as
    * `frameSize`-byte frames and keep every `stride`-th one (the
    * video-frame-sampling shape). Pure Column algebra — binary
    * `substring` + one generator per row, fully codegen'd, no UDF; a
    * real container format would swap the fixed-size slicing for a
    * codec's frame index, leaving the plan shape unchanged. Payloads
    * shorter than one frame yield no rows. */
  def sampleFrames(packed: DataFrame, frameSize: Int, stride: Int): DataFrame =
    packed
      .withColumn("n_frames", floor(length(col("payload")) / frameSize).cast("long"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0L),
          floor((col("n_frames") - 1) / stride).cast("long"))).as("i"))
      .select(col("doc_id"), (col("i") * stride).as("frame_no"),
        md5(expr(s"substring(payload, cast(i * $stride * $frameSize + 1 as int), $frameSize)"))
          .as("frame_md5"))

  // ---------------------------------------------------------------- audio

  /** Deterministic audio fixture: 16-bit signed PCM whose every sample
    * is a closed-form function of (doc_id, channel, frame), containered
    * as REAL RIFF/WAVE bytes by the JDK's built-in codec
    * (`javax.sound.sampled.AudioSystem` — pure Java, no external
    * library). WAV PCM is lossless, so a correct decode recovers the
    * formula exactly and the DuckDB oracle can replay it — a broken
    * header parse, byte order, or channel de-interleave cannot hash
    * green. Clips are kept tiny (≤97 frames): the point is the codec
    * round trip, not audio volume. */
  object AudioFixture {
    private val Rates = Array(8000, 11025, 16000, 22050)
    def sampleRateOf(docId: Long): Int = Rates((docId % 4).toInt)
    def nFramesOf(docId: Long): Int = (64 + docId % 33).toInt
    def channelsOf(docId: Long): Int = (1 + docId % 2).toInt
    /** Signed 16-bit sample value for (doc, channel, frame). */
    def sampleAt(docId: Long, ch: Int, i: Int): Int =
      (((docId * 131L + ch * 17L + i * 37L) % 65536L) - 32768L).toInt

    /** Interleave the PCM frames and ENCODE them as a real WAV file.
      * `silentFrames` zeroes the leading frames — the "trimmed
      * re-upload" variant the audio near-dup fixture plants. */
    def renderWav(docId: Long): Array[Byte] = renderWav(docId, 0)

    def renderWav(docId: Long, silentFrames: Int): Array[Byte] =
      renderWav(docId, silentFrames, 1)

    /** `gain` scales every sample with int16 saturation — the "same
      * clip re-uploaded louder" variant of the robustness grid. */
    def renderWav(docId: Long, silentFrames: Int, gain: Int): Array[Byte] =
      renderWav(docId, silentFrames, gain, structured = false)

    /** Block-constant loudness envelope for the STRUCTURED near-dup
      * renders: each 4-frame block of a clip holds amplitude
      * `ampAt(doc, block)` — a nonlinear (multiplicative, so no
      * cross-doc shift structure survives the mod) integer mix in
      * [2048, 22047]. Unlike [[sampleAt]]'s slow sawtooth (whose
      * loudness envelope is a near-identical ramp for EVERY doc — the
      * round-9 scorecard measured any level-normalized fingerprint
      * useless on it), distinct docs get decorrelated envelopes, which
      * is what real audio looks like to an energy fingerprint. The top
      * of the range saturates under the grid's ×2 gain (2·amp > 32767
      * for amp > 16383, ~28% of blocks), so gain-robustness is measured
      * against honest clipping, not a conveniently linear transform.
      * All-integer and closed-form, so the DuckDB oracle replays it. */
    def ampAt(docId: Long, block: Int): Long =
      ((docId + 131L) * (block + 17L) * (docId + block * 127L + 29L)) % 20000L + 2048L

    /** Signed sample of the structured render: alternating-sign
      * (zero-mean, audio-shaped) carrier at the block's amplitude. */
    def structuredSampleAt(docId: Long, ch: Int, i: Int): Int = {
      val a = ampAt(docId, i >> 2).toInt
      if ((i + ch) % 2 == 0) a else -a
    }

    def renderWav(docId: Long, silentFrames: Int, gain: Int,
                  structured: Boolean): Array[Byte] = {
      val sr = sampleRateOf(docId)
      val n = nFramesOf(docId)
      val nc = channelsOf(docId)
      val pcm = new Array[Byte](n * nc * 2)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < nc) {
          val raw = if (structured) structuredSampleAt(docId, c, i)
            else sampleAt(docId, c, i)
          val s = if (i < silentFrames) 0
            else math.max(-32768, math.min(32767, gain * raw))
          val off = (i * nc + c) * 2
          pcm(off) = (s & 0xff).toByte            // little-endian
          pcm(off + 1) = ((s >> 8) & 0xff).toByte
          c += 1
        }
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sr.toFloat, 16, nc, /*signed=*/ true, /*bigEndian=*/ false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      writeWav(ais)
    }
  }

  case class AudioMedia(doc_id: Long, wav: Array[Byte])
  case class DecodedAudio(doc_id: Long, sample_rate: Long, channels: Long,
                          bits: Long, n_frames: Long, sample_sum: Long,
                          energy: Long, sample_checksum: Long)

  /** One WAV payload per document (generated in-engine so the decode is
    * verifiable; in production the bytes arrive from object storage,
    * already spread over many files — see [[packImages]] on the
    * fixture-only repartition). */
  def packAudio(spark: SparkSession, docs: DataFrame): Dataset[AudioMedia] = {
    import spark.implicits._
    // Same codec-parallelism shuffle as packImages (see there).
    codecIds(docs)
      .mapPartitions(_.map(id => AudioMedia(id, AudioFixture.renderWav(id))))
  }

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the
    * RIFF/WAVE container per partition; format metadata (rate, channel
    * count, bit depth, frame length) is read from the DECODED header and
    * three integer signal statistics — Σ s, Σ s² (signal energy, the
    * loudness/silence-filter primitive), and a position-weighted
    * checksum — are computed from the DECODED de-interleaved samples.
    * All-integer outputs keep the oracle comparison exact. Scale: narrow
    * mapPartitions, fixed-width output independent of clip length. */
  def decodeAudio(spark: SparkSession, packed: Dataset[AudioMedia]): Dataset[DecodedAudio] = {
    import spark.implicits._
    packed.mapPartitions(_.map { m =>
      val ais = openWav(m.wav)
      val fmt = ais.getFormat
      val nc = fmt.getChannels
      val bits = fmt.getSampleSizeInBits
      // The sample loop below de-interleaves 16-bit little-endian signed
      // PCM; any other encoding would read garbage (or past the buffer),
      // so reject it loudly instead.
      require(bits == 16 && !fmt.isBigEndian &&
        fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"decodeAudio supports 16-bit little-endian signed PCM; " +
          s"doc ${m.doc_id} decoded as $fmt")
      val bytes = ais.readAllBytes()
      ais.close()
      // Frame count from the DECODED byte length, not the header:
      // getFrameLength is NOT_SPECIFIED (-1) for some foreign/streamed
      // WAV inputs, which would silently skip the sample loop and report
      // all-zero stats instead of failing like the encoding guard above.
      // When the header does carry a length, it must agree — a mismatch
      // means a truncated or padded payload and is rejected loudly.
      require(bytes.length % (nc * 2) == 0,
        s"decodeAudio: doc ${m.doc_id} PCM byte length ${bytes.length} is " +
          s"not a whole number of $nc-channel 16-bit frames")
      val nFrames = bytes.length / (nc * 2)
      val declared = ais.getFrameLength
      require(declared == javax.sound.sampled.AudioSystem.NOT_SPECIFIED ||
        declared == nFrames.toLong,
        s"decodeAudio: doc ${m.doc_id} header declares $declared frames " +
          s"but the payload decodes to $nFrames")
      var sum = 0L
      var energy = 0L
      var chk = 0L
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < nc) {
          val off = (f * nc + c) * 2
          val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toLong
          sum += s
          energy += s * s
          chk += s * (f.toLong * nc + c + 1)
          c += 1
        }
        f += 1
      }
      DecodedAudio(m.doc_id, fmt.getSampleRate.toLong, nc.toLong, bits.toLong,
        nFrames, sum, energy, chk)
    })
  }

  // ---------------------------------------------------------------- video

  /** Deterministic multi-frame "video" fixture: each doc is an animated
    * GIF of nFramesOf(doc_id) frames, every frame the closed-form gray
    * ramp shifted by 97·frame — containered as REAL GIF89a bytes by the
    * JDK's ImageIO sequence writer (the one multi-frame format the JDK
    * both writes and reads). The frames are palette-indexed against an
    * explicit 256-entry gray palette, so the encode is LOSSLESS and the
    * DuckDB oracle can replay the per-frame pixel function — a broken
    * frame index, palette mapping, or raster read cannot hash green.
    * Clips stay tiny (≤16×14×6): the point is the container round
    * trip, not pixel volume. */
  object VideoFixture {
    def nFramesOf(docId: Long): Int = (3 + docId % 4).toInt
    /** Frame f's pixel = the image ramp shifted by 97·f (mod 256). */
    def grayAt(docId: Long, f: Int, x: Int, y: Int): Int =
      ((docId + 97L * f + 31L * x + 7L * y) % 256).toInt

    /** 8-bit 256-entry gray palette: index i ↦ rgb(i, i, i) — encode
      * identity for gray rasters. */
    private val grayPalette: java.awt.image.IndexColorModel = {
      val ramp = Array.tabulate(256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    }

    /** Render the doc's frames and ENCODE them as one animated GIF via
      * ImageIO's sequence writer. */
    def renderGif(docId: Long): Array[Byte] = {
      val w = ImageFixture.widthOf(docId)
      val h = ImageFixture.heightOf(docId)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      val writer = gifWriterTl.get()
      // try/finally, as in decodeVideoFrames: a sequence that fails
      // midway must not leave this thread's writer holding the dead
      // stream for the next task the executor thread runs.
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        val n = nFramesOf(docId)
        while (f < n) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, grayAt(docId, f, x, y))
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.setOutput(null)
        ios.close()
      }
      out.toByteArray
    }
  }

  case class VideoMedia(doc_id: Long, gif: Array[Byte])
  case class DecodedFrame(doc_id: Long, frame_no: Long, n_frames: Long,
                          width: Long, height: Long, pixel_sum: Long,
                          pixel_checksum: Long)

  /** One animated-GIF payload per document (generated in-engine so the
    * decode is verifiable; production bytes arrive from object storage
    * — see [[packImages]] on the fixture-only repartition). */
  def packVideos(spark: SparkSession, docs: DataFrame): Dataset[VideoMedia] = {
    import spark.implicits._
    // Same codec-parallelism shuffle as packImages (see there).
    codecIds(docs)
      .mapPartitions(_.map(id => VideoMedia(id, VideoFixture.renderGif(id))))
  }

  /** REAL multi-frame decode: one `ImageReader` walks every frame of
    * the GIF container (`getNumImages(true)` → `read(i)`) and each
    * frame reports raster metadata + the two pixel checksums measured
    * from the DECODED pixels — the frame-extraction stage of a video
    * curation pipeline (thumbnailing, frame-level dedup, shot stats).
    * The oracle replays [[VideoFixture.grayAt]] closed-form. Scale:
    * narrow per-partition decode, one reader per payload, output rows
    * fixed-width per frame regardless of clip size. */
  def decodeVideoFrames(spark: SparkSession,
                        packed: Dataset[VideoMedia]): Dataset[DecodedFrame] = {
    import spark.implicits._
    packed.mapPartitions(_.flatMap { m =>
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(m.gif))
      val reader = gifReaderTl.get()
      // try/finally: a corrupt payload throwing mid-read must not
      // strand the reader + input stream (the streaming path decodes
      // per micro-batch in a long-lived JVM).
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val frames = (0 until n).map { f =>
          val img = reader.read(f)
          val w = img.getWidth
          val h = img.getHeight
          var sum = 0L
          var chk = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val gray = img.getRGB(x, y) & 0xff // gray palette: r == g == b
              sum += gray
              chk += gray.toLong * (y.toLong * w + x + 1)
              x += 1
            }
            y += 1
          }
          DecodedFrame(m.doc_id, f.toLong, n.toLong, w.toLong, h.toLong, sum, chk)
        }
        frames.iterator
      } finally {
        reader.setInput(null)
        iis.close()
      }
    })
  }

  // ------------------------------------------------- audio fingerprint dedup

  case class AudioClip(clip_id: Long, doc_id: Long, silent: Int,
                       wav: Array[Byte])

  /** Audio corpus with planted near-duplicates: every doc contributes
    * its base clip (clip_id = 2·doc_id); docs with doc_id % 5 == 0
    * also contribute a LEADING-SILENCE-TRIMMED re-render (clip_id =
    * 2·doc_id + 1, first 3 frames zeroed) — the "same clip, trimmed /
    * re-encoded upload" case a crawl-scale audio dedup must catch.
    * Renders use the STRUCTURED envelope ([[AudioFixture.ampAt]]):
    * doc-decorrelated block loudness, the signal family the
    * fingerprint's robustness scorecard is graded on. */
  def packAudioVariants(spark: SparkSession, docs: DataFrame): Dataset[AudioClip] = {
    import spark.implicits._
    // Same codec-parallelism shuffle as packImages (see there).
    codecIds(docs)
      .mapPartitions(_.flatMap { id =>
        val base = AudioClip(id * 2, id, 0,
          AudioFixture.renderWav(id, 0, 1, structured = true))
        if (id % 5 == 0)
          Iterator(base, AudioClip(id * 2 + 1, id, 3,
            AudioFixture.renderWav(id, 3, 1, structured = true)))
        else Iterator(base)
      })
  }

  /** Ingest-wave renders for the SELF-ACCUMULATING audio dedup
    * fixture: wave w of each doc is a trim-4 re-render at gain w
    * (clip_id = w·WaveStride + 2·doc_id; the 1e12 stride keeps wave
    * labels disjoint from any fixture id — a 1e6 stride aliased against
    * the 10× probe fixture's shifted doc_ids). Wave 2 differs from
    * wave 1 only by
    * the ×2 gain — which the band-median fingerprint is invariant to
    * (up to saturation ties) — while both differ from the base clip by
    * the trim, so wave 2's nearest corpus∪wave-1 neighbour is its
    * wave-1 sibling: exactly the match a frozen index can never
    * return. */
  /** Wave-label stride shared with the DuckDB oracles (PipelinePack
    * interpolates the same value): wave-w clip ids are w*WaveStride +
    * 2*doc_id, disjoint from base ids at any plausible fixture scale. */
  val WaveStride = 1000000000000L

  def packAudioWave(spark: SparkSession, docs: DataFrame,
                    wave: Int): Dataset[AudioClip] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id => AudioClip(wave * WaveStride + id * 2, id, 4,
        AudioFixture.renderWav(id, 4, wave, structured = true))))
  }

  /** Robustness-measurement grid for the audio fingerprint: every
    * planted doc (doc_id % 5 == 0) contributes FOUR renders — base,
    * trim-2, trim-6, and ×2-gain (saturating) — and every other doc
    * its base clip only (the unrelated-clip background the
    * false-positive rate is measured against). clip_id = 4·doc_id +
    * variant, so doc = clip_id >> 2 and variant = clip_id % 4. */
  def packAudioGrid(spark: SparkSession, docs: DataFrame): Dataset[AudioClip] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.flatMap { id =>
        def wav(sil: Int, gain: Int) =
          AudioFixture.renderWav(id, sil, gain, structured = true)
        val base = AudioClip(id * 4, id, 0, wav(0, 1))
        if (id % 5 == 0)
          Iterator(base,
            AudioClip(id * 4 + 1, id, 2, wav(2, 1)),
            AudioClip(id * 4 + 2, id, 6, wav(6, 1)),
            AudioClip(id * 4 + 3, id, 0, wav(0, 2)))
        else Iterator(base)
      })
  }

  /** MEASURED false-positive / false-negative behaviour of the audio
    * fingerprint over the [[packAudioGrid]] variant grid — the
    * robustness scorecard the near-dup threshold is chosen from
    * (the audio twin of `q_dedup_lsh_quality` / `q_sim_hn_recall`).
    * Ground truth: two clips are duplicates iff they render the same
    * doc. One row: clip count, true/predicted/correct pair counts,
    * precision (1 − FP rate of the flagged set), recall, and the
    * per-perturbation recalls — recall_trim over the pure
    * trim/base pairs (a silence trim flips only leading-band bits
    * plus a median rank shift) and recall_gain over pairs involving
    * the ×2-gain render (median-relative band signs survive the
    * monotone saturating re-gain up to clip-level ties). The
    * round-9/10 raw-loudness-hash fingerprint graded precision 0.29 /
    * recall_gain 0.0 here; the band-median fingerprint grades ≥0.95
    * on all four columns at threshold 8 — the threshold
    * `AUD_HAMMING_MAX` is picked from this grid. Ratios over an empty
    * denominator (no flagged pairs / no planted docs in the slice)
    * surface as 0.0, not null, so a degenerate slice reads as "found
    * nothing", never as a NaN-ish hole. Scale: the pairwise stage is
    * the same Σ bucket² banded join as [[imageNearDup]]; the grading
    * tail is two tiny aggregates. */
  def audioDedupQualityReport(hashes: DataFrame, maxHamming: Int): DataFrame = {
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num / den, 6)).otherwise(lit(0.0))
    val flagged = imageNearDup(hashes, maxHamming)
      .select(shiftright(col("img_a"), 2).as("doc_a"),
        pmod(col("img_a"), lit(4L)).as("va"),
        shiftright(col("img_b"), 2).as("doc_b"),
        pmod(col("img_b"), lit(4L)).as("vb"))
    val sameDoc = col("doc_a") === col("doc_b")
    // coalesce: a zero-row flagged set makes the sums null (count is 0)
    // and the ratio guards below only cover zero DENOMINATORS.
    val pred = flagged.agg(
      count(lit(1)).as("n_pred"),
      coalesce(sum(when(sameDoc, 1L).otherwise(0L)), lit(0L)).as("n_correct"),
      coalesce(sum(when(sameDoc && col("va") < 3 && col("vb") < 3, 1L)
        .otherwise(0L)), lit(0L)).as("n_correct_trim"),
      coalesce(sum(when(sameDoc && (col("va") === 3 || col("vb") === 3), 1L)
        .otherwise(0L)), lit(0L)).as("n_correct_gain"))
    // True pair counts from the clip table itself: a doc has either 1
    // clip (no pairs) or the full 4-variant grid (6 pairs: 3 among
    // {base, trim2, trim6}, 3 involving the gain render).
    val truth = hashes.select(shiftright(col("img_id"), 2).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("c")), lit(0L)).as("n_clips"),
        coalesce(sum(col("c") * (col("c") - 1) / 2).cast("long"), lit(0L))
          .as("n_true"),
        coalesce(sum(when(col("c") === 4, 3L).otherwise(0L)), lit(0L))
          .as("n_true_trim"),
        coalesce(sum(when(col("c") === 4, 3L).otherwise(0L)), lit(0L))
          .as("n_true_gain"))
    broadcast(truth).crossJoin(pred)
      .select(col("n_clips"), col("n_true"), col("n_pred"), col("n_correct"),
        ratio(col("n_correct"), col("n_pred")).as("precision"),
        ratio(col("n_correct"), col("n_true")).as("recall"),
        ratio(col("n_correct_trim"), col("n_true_trim")).as("recall_trim"),
        ratio(col("n_correct_gain"), col("n_true_gain")).as("recall_gain"))
  }

  /** 64-bit audio CONTENT fingerprint from the REAL decoded PCM —
    * Haitsma–Kalker-style band-energy signs: split the clip into 64
    * contiguous frame bands (band of frame f = 64·f/n), sum |sample|
    * across channels and frames per band, normalize unequal band
    * lengths exactly (n is rarely a multiple of 64, so band counts are
    * ⌊n/64⌋ or ⌈n/64⌉; multiplying each band sum by lcm/count keeps
    * the comparison all-integer), and set bit(w) = 1 iff band w's
    * normalized energy is ABOVE THE CLIP'S LOWER-MEDIAN band energy
    * (ties broken by band index, so exactly 32 bits are always set).
    * Median-relative bits are the gain-robust choice: any re-gain —
    * including ×2 WITH int16 saturation, which is monotone in |s| —
    * preserves the energy ORDER of the bands and therefore every bit
    * except ties created at the clip level by clipping, measured ~0–6
    * flipped bits on the robustness grid. A leading-silence trim
    * zeroes only the leading bands (plus ≤1–2 marginal flips from the
    * median shifting a rank). The round-9/10 Knuth-hash-of-raw-
    * loudness fingerprint measured precision 0.29 / recall_gain 0.0
    * on its own scorecard — the multiplicative hash decorrelated
    * EVERY gain re-render; this one measures ≥0.95 on all four
    * scorecard columns at threshold 8 (see `q_mm_audio_neardup_quality`).
    * All-integer arithmetic, so the oracle replays it exactly. Emitted
    * in the shared [[ImageHash]] 4×16-bit-word layout so the SAME
    * threshold-exact banded near-dup machinery ([[imageNearDup]],
    * [[bandBits]]) runs unchanged over clips. Narrow per-partition
    * decode, 5 longs out per clip. */
  def audioFingerprint(spark: SparkSession,
                       clips: Dataset[AudioClip]): Dataset[ImageHash] = {
    import spark.implicits._
    clips.mapPartitions(_.map { m =>
      val ais = openWav(m.wav)
      // try/finally: the integrity `require`s below must not leak the
      // decoder stream when they throw.
      val (bytes, nc, nFrames) =
        try {
          val fmt = ais.getFormat
          val nc = fmt.getChannels
          require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            s"audioFingerprint supports 16-bit little-endian signed PCM; " +
              s"clip ${m.clip_id} decoded as $fmt")
          val bytes = ais.readAllBytes()
          // Same payload-integrity guards as decodeAudio: a truncated or
          // padded stream must fail loudly, not be silently clipped to
          // whole frames; an empty/sub-frame stream would otherwise feed
          // a zero-length frame array to the band loop and emit a
          // meaningless all-zero fingerprint.
          require(bytes.length % (nc * 2) == 0,
            s"audioFingerprint: clip ${m.clip_id} PCM byte length " +
              s"${bytes.length} is not a whole number of $nc-channel " +
              "16-bit frames")
          val nFrames = bytes.length / (nc * 2)
          require(nFrames > 0,
            s"audioFingerprint: clip ${m.clip_id} decodes to zero PCM frames")
          val declared = ais.getFrameLength
          require(declared == javax.sound.sampled.AudioSystem.NOT_SPECIFIED ||
            declared == nFrames.toLong,
            s"audioFingerprint: clip ${m.clip_id} header declares $declared " +
              s"frames but the payload decodes to $nFrames")
          (bytes, nc, nFrames)
        } finally ais.close()
      val bandSum = new Array[Long](64)
      val bandCnt = new Array[Int](64)
      var f = 0
      while (f < nFrames) {
        var v = 0L
        var c = 0
        while (c < nc) {
          val off = (f * nc + c) * 2
          val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toLong
          v += math.abs(s)
          c += 1
        }
        val w = (64L * f / nFrames).toInt
        bandSum(w) += v
        bandCnt(w) += 1
        f += 1
      }
      // Exact rational comparison of band MEANS via the lcm of the two
      // possible band lengths (lo and lo+1 both divide lo·(lo+1)); for
      // n ≥ 64 every band is non-empty (64·f/n steps by ≤ 1).
      val lo = math.max(nFrames / 64, 1).toLong
      val norm = new Array[Long](64)
      var w = 0
      while (w < 64) {
        norm(w) = if (bandCnt(w) == 0) 0L
          else bandSum(w) * (lo * (lo + 1) / bandCnt(w))
        w += 1
      }
      // Lower-median band under (energy, band-index) lex order.
      val order = (0 until 64).sortBy(i => (norm(i), i))
      val mw = order(31)
      val mv = norm(mw)
      val bands = new Array[Long](4)
      w = 0
      while (w < 64) {
        if (norm(w) > mv || (norm(w) == mv && w > mw))
          bands(w / 16) |= 1L << (w % 16)
        w += 1
      }
      ImageHash(m.clip_id, bands(0), bands(1), bands(2), bands(3))
    })
  }

  // --------------------------------------- image perceptual-hash dedup

  case class ImageVariant(img_id: Long, doc_id: Long, delta: Int,
                          png: Array[Byte])
  case class ImageHash(img_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  /** Image corpus with planted near-duplicates: every doc contributes
    * its base PNG (img_id = 2·doc_id); docs with doc_id % 5 == 0 also
    * contribute a brightness-shifted re-render (img_id = 2·doc_id + 1,
    * gray + 1 mod 256) — the "same photo, different exposure/re-encode"
    * case a crawl-scale image dedup must catch. */
  def packImageVariants(spark: SparkSession, docs: DataFrame): Dataset[ImageVariant] = {
    import spark.implicits._
    // Same codec-parallelism shuffle as packImages (see there).
    codecIds(docs)
      .mapPartitions(_.flatMap { id =>
      val base = ImageVariant(id * 2, id, 0, ImageFixture.renderPng(id, 0))
      if (id % 5 == 0)
        Iterator(base, ImageVariant(id * 2 + 1, id, 1, ImageFixture.renderPng(id, 1)))
      else Iterator(base)
    })
  }

  /** 64-bit average hash (aHash) computed from the REAL decoded raster:
    * nearest-neighbor-sample an 8×8 grid, then bit(cell) = 1 iff the
    * cell is brighter than the grid mean (compared as 64·gray > Σgray —
    * integer-exact, no division). Stored as four 16-bit words
    * (b0..b3) — a STORAGE layout only; the near-dup join re-bands the
    * 64 bits per threshold ([[bandBits]]) so candidate recall is exact
    * for ANY maxHamming. Narrow per-partition decode, fixed-width
    * output. */
  /** The 64-bit aHash of one DECODED raster as four 16-bit words —
    * shared by the still-image path ([[imageAHash]]) and the per-frame
    * video path ([[videoFrameHashes]]). */
  private[graft] def ahashOf(img: java.awt.image.BufferedImage): Array[Long] = {
    val w = img.getWidth
    val h = img.getHeight
    val cell = new Array[Int](64)
    var total = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val g = img.getRGB(gx * w / 8, gy * h / 8) & 0xff
        cell(gy * 8 + gx) = g
        total += g
        gx += 1
      }
      gy += 1
    }
    val bands = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (64L * cell(i) > total) bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  def imageAHash(spark: SparkSession, imgs: Dataset[ImageVariant]): Dataset[ImageHash] = {
    import spark.implicits._
    imgs.mapPartitions(_.map { m =>
      val b = ahashOf(
        readPng(m.png))
      ImageHash(m.img_id, b(0), b(1), b(2), b(3))
    })
  }

  /** Fixed-point cosine table entry for the integer DCT:
    * floor(cos(π(2x+1)u/2n)·10⁴ + 0.5). The JPEG discipline — scale
    * the irrational basis to integers ONCE, then every coefficient is
    * exact 64-bit arithmetic: bit-identical across engines, summation
    * orders and parallelism (a float DCT would make the oracle replay
    * hostage to libm ULP differences at the median-compare boundary). */
  private def icos(u: Int, x: Int, n: Int): Long =
    math.floor(math.cos(math.Pi * (2 * x + 1) * u / (2.0 * n)) * 1e4 + 0.5).toLong

  /** 63-bit DCT perceptual hash (pHash) of one DECODED raster:
    * 2×2 box-sum low-pass (the role the 32×32 antialias resize plays
    * in canonical pHash, sized for this fixture's 8–16 px images —
    * and EXACT: a zero-mean Nyquist checkerboard sums to 0 in every
    * 2×2 window, so pure high-frequency noise moves ZERO bits), then
    * the 8×8 low-frequency block of the 2D integer DCT-II, DC dropped,
    * bit(u,v) = 1 iff coefficient > median of the 63 AC coefficients
    * (odd count — the median IS an element, so the strict compare is
    * deterministic). A constant brightness shift moves ONLY the DC
    * coefficient — the second invariance the pixel-domain aHash lacks.
    * All arithmetic is exact 64-bit integer (fixed-point cosine table,
    * [[icos]]), so the DuckDB oracle's closed-form replay is
    * bit-identical by construction. Stored in the same 4×16-bit-word
    * layout as [[ahashOf]] (bit 63 always 0), so the banded near-dup /
    * fingerprint-index machinery applies unchanged. */
  private[graft] def phashOf(img: java.awt.image.BufferedImage): Array[Long] = {
    val pw = img.getWidth
    val ph = img.getHeight
    val raw = new Array[Int](pw * ph)
    var yy0 = 0
    while (yy0 < ph) {
      var xx0 = 0
      while (xx0 < pw) { raw(yy0 * pw + xx0) = img.getRGB(xx0, yy0) & 0xff; xx0 += 1 }
      yy0 += 1
    }
    // 2×2 box sum (not mean — DCT is linear and the median threshold is
    // scale-invariant, so the ÷4 would only cost integer exactness)
    val w = pw - 1
    val h = ph - 1
    val g = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        g(y * w + x) = raw(y * pw + x) + raw(y * pw + x + 1) +
          raw((y + 1) * pw + x) + raw((y + 1) * pw + x + 1)
        x += 1
      }
      y += 1
    }
    // per-image cosine tables: 8 rows × native size, integer-scaled
    val cu = Array.tabulate(8, w)((u, x) => icos(u, x, w))
    val cv = Array.tabulate(8, h)((v, y) => icos(v, y, h))
    val coef = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L // ≤ 1020·10⁴·10⁴·195 ≈ 2e13 — no overflow
        var yy = 0
        while (yy < h) {
          var xx = 0
          val cvv = cv(v)(yy)
          while (xx < w) { acc += g(yy * w + xx) * cu(u)(xx) * cvv; xx += 1 }
          yy += 1
        }
        coef(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(coef, 1, 64)
    java.util.Arrays.sort(ac)
    val med = ac(31)
    val bands = new Array[Long](4)
    var i = 1
    while (i < 64) {
      if (coef(i) > med) { val b = i - 1; bands(b / 16) |= 1L << (b % 16) }
      i += 1
    }
    bands
  }

  /** pHash of every variant image — same narrow per-partition decode
    * shape as [[imageAHash]], same [[ImageHash]] output, so every
    * downstream consumer (banded near-dup, fingerprint index,
    * clusters) composes with either fingerprint unchanged. */
  def imagePHash(spark: SparkSession, imgs: Dataset[ImageVariant]): Dataset[ImageHash] = {
    import spark.implicits._
    imgs.mapPartitions(_.map { m =>
      val b = phashOf(
        readPng(m.png))
      ImageHash(m.img_id, b(0), b(1), b(2), b(3))
    })
  }

  /** Wrap-free base + COMPOSITE-corrupted re-render of every document
    * (img_id = doc·2 / doc·2+1): tilt + brightness + checkerboard — the
    * near-dup corpus where the DCT hash is the only workable dedup key
    * ([[ImageFixture.grayCorruptAt]]). */
  def packImageCorrupt(spark: SparkSession, docs: DataFrame): Dataset[ImageVariant] = {
    import spark.implicits._
    // Same codec-parallelism shuffle as packImages (see there).
    codecIds(docs)
      .mapPartitions(_.flatMap { id =>
        Iterator(
          ImageVariant(id * 2, id, 0, ImageFixture.renderPngLp(id)),
          ImageVariant(id * 2 + 1, id, 1, ImageFixture.renderPngCorrupt(id)))
      })
  }

  /** Wrap-free base + pure-checkerboard re-render of every document
    * (img_id = doc·2 / doc·2+1) — the corruption model where aHash and
    * pHash maximally diverge; see [[ImageFixture.grayNoisyAt]]. */
  def packImageNoisy(spark: SparkSession, docs: DataFrame,
                     amp: Int): Dataset[ImageVariant] = {
    import spark.implicits._
    // Same codec-parallelism shuffle as packImages (see there).
    codecIds(docs)
      .mapPartitions(_.flatMap { id =>
        Iterator(
          ImageVariant(id * 2, id, 0, ImageFixture.renderPngLp(id)),
          ImageVariant(id * 2 + 1, id, amp, ImageFixture.renderPngNoisy(id, amp)))
      })
  }

  /** Fingerprint-robustness scorecard: for every (base, corrupted)
    * image pair, the Hamming distance under BOTH fingerprints, folded
    * to one measured row — how far the corruption moves each hash and
    * how often the DCT hash is strictly closer. This is the decision
    * row for choosing the dedup fingerprint at crawl scale: a near-dup
    * pipeline keyed on a fingerprint the corruption model defeats
    * (avg Hamming above threshold) silently loses its recall. Inputs
    * are the two hash tables over the SAME images; one keyed join per
    * fingerprint + a global fold — no pairwise stage anywhere. */
  def fingerprintRobustness(ahash: DataFrame, phash: DataFrame): DataFrame = {
    def pairHamming(h: DataFrame, out: String): DataFrame = {
      val base = h.filter(col("img_id") % 2 === 0)
        .select(expr("img_id div 2").as("doc_id"), col("b0").as("a0"),
          col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
      val noisy = h.filter(col("img_id") % 2 === 1)
        .select(expr("img_id div 2").as("doc_id"), col("b0").as("c0"),
          col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
      base.join(noisy, Seq("doc_id"))
        .select(col("doc_id"),
          (expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1)") +
            expr("bit_count(a2 ^ c2) + bit_count(a3 ^ c3)"))
            .cast("long").as(out))
    }
    pairHamming(ahash, "ah").join(pairHamming(phash, "ph"), Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ah")), 6).as("avg_ahash_hamming"),
        round(avg(col("ph")), 6).as("avg_phash_hamming"),
        max(col("ah")).as("max_ahash_hamming"),
        max(col("ph")).as("max_phash_hamming"),
        sum((col("ph") < col("ah")).cast("long")).as("phash_strictly_closer"),
        sum((col("ph") <= col("ah")).cast("long")).as("phash_not_worse"))
  }

  /** Per-FRAME aHash of every video: the GIF container is decoded
    * frame by frame ([[decodeVideoFrames]]' reader walk) and each
    * decoded raster hashed with the shared [[ahashOf]] — frame
    * fingerprinting, the primitive under clip-level video dedup.
    * img_id = doc_id·16 + frame_no (frame counts are < 16, so the
    * encoding is collision-free and `img_id >> 4` recovers the video).
    * Narrow per-partition decode, 5 longs out per frame. */
  def videoFrameHashes(spark: SparkSession,
                       packed: Dataset[VideoMedia]): Dataset[ImageHash] = {
    import spark.implicits._
    packed.mapPartitions(_.flatMap { m =>
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(m.gif))
      val reader = gifReaderTl.get()
      // try/finally: see decodeVideoFrames — the require below and any
      // decode failure must not strand the reader.
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        require(n < 16, s"videoFrameHashes: doc ${m.doc_id} has $n frames; " +
          "the img_id = doc_id*16 + frame encoding requires < 16")
        (0 until n).map { f =>
          val b = ahashOf(reader.read(f))
          ImageHash(m.doc_id * 16 + f, b(0), b(1), b(2), b(3))
        }.iterator
      } finally {
        reader.setInput(null)
        iis.close()
      }
    })
  }

  /** Exact-recall band layout for Hamming ≤ `maxHamming` over the
    * 64-bit aHash: maxHamming+1 DISJOINT bit ranges covering all 64
    * bits (sizes differing by ≤1). Pigeonhole: ≤ maxHamming differing
    * bits cannot touch all maxHamming+1 bands, so two in-threshold
    * hashes agree EXACTLY on at least one band — banded blocking is a
    * lossless candidate pruning of the all-pairs Hamming join (the
    * round-7 advice fix: the old fixed 4×16-bit blocking only
    * guaranteed d ≤ 3 while [[imageNearDup]] callers ask for d = 6;
    * the DuckDB oracle now states the all-pairs DEFINITION, so a
    * recall-losing layout here would hash-fail). */
  private[graft] def bandBits(maxHamming: Int): Seq[Range] = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val base = 64 / nBands
    val extra = 64 % nBands
    val starts = (0 until nBands).scanLeft(0)((off, k) =>
      off + base + (if (k < extra) 1 else 0))
    (0 until nBands).map(k => starts(k) until starts(k + 1))
  }

  /** The value of band `bits` assembled bit-by-bit from the stored
    * 16-bit words b0..b3 (a band may straddle a word boundary). Pure
    * shift/and/add Column algebra — codegen'd, no UDF. */
  private def bandValue(bits: Range): org.apache.spark.sql.Column =
    bits.zipWithIndex.map { case (bit, j) =>
      shiftleft(shiftright(col(s"b${bit / 16}"), bit % 16).bitwiseAND(lit(1L)), j)
    }.reduce(_ + _)

  /** Near-duplicate image pairs by banded aHash: explode each hash into
    * its maxHamming+1 (band_idx, value) blocking keys ([[bandBits]] —
    * recall-exact for the threshold), self-join per block, then verify
    * candidates with the exact Hamming distance (`bit_count` of the
    * XOR — codegen'd builtin, no UDF). Scale: the join is keyed on
    * ~64/(maxHamming+1)-bit band values, so work is Σ bucket² over
    * genuinely-colliding buckets — never corpus²; candidate dedup is a
    * narrow distinct on the pair key. The hash frame is persisted for
    * the self-join (5 longs per image — tiny) so the upstream codec
    * pass runs ONCE, not once per join side, and released before
    * returning ([[Dedup.materializeThenRelease]] lifecycle). */
  def imageNearDup(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val (pairs, h, members, dh) = imageNearDupPlan(hashes, maxHamming)
    Dedup.materializeThenRelease(pairs, h, members, dh)
  }

  /** [[imageNearDup]] UP TO the checkpoint: the un-materialized pair
    * plan plus the three persisted frames, so PlanHygieneSpec can pin
    * the distinct-hash compression shape (the checkpoint in the public
    * operator destroys the lineage a plan assertion needs). Callers
    * must unpersist all three frames. */
  private[graft] def imageNearDupPlan(hashes: DataFrame, maxHamming: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // DISTINCT-HASH compression (the [[videoNearDup]] discipline,
    // pulled down to the still-image path by the round-11 10× scale
    // probe): real corpora carry heavy fingerprint duplication — logos,
    // icons, re-posts; the 10× synthetic fixture saturates its pattern
    // space and measured Σ bucket² 7.5M → 753M (×100) with the banded
    // self-join over raw images, 705 s and 27 GB of spill for what is
    // ~the same set of distinct hashes. Banding DISTINCT hash values
    // shrinks Σ bucket² by the duplication factor SQUARED; hash-level
    // matches expand back to image pairs through the per-hash member
    // lists (output size is the true pair set either way — that part
    // is definitional). Identical-hash pairs ride the diagonal
    // (Hamming 0 by definition) instead of the banded join.
    val h = hashes.persist(lvl)
    val hid = col("b0").bitwiseOR(shiftleft(col("b1"), 16))
      .bitwiseOR(shiftleft(col("b2"), 32))
      .bitwiseOR(shiftleft(col("b3"), 48)).as("hid")
    val members = h.select(col("img_id"), hid).persist(lvl)
    val dh = h.select(hid, col("b0"), col("b1"), col("b2"), col("b3"))
      .distinct().persist(lvl)
    // Threshold-adaptive blocking: probe-side keys joined against
    // exact-side keys (identical frames below the MIH cutover; probe
    // enumerates ≤e flips above it — band distance is symmetric, so
    // catching each unordered pair in the hid_a < hid_b orientation
    // is sufficient).
    val dhKeyed = dh.withColumnRenamed("hid", "img_id")
    val ba = probeBandKeys(dhKeyed, maxHamming)
      .toDF("hid_a", "a_band_idx", "a_bval")
    val bb = exactBandKeys(dhKeyed, maxHamming)
      .toDF("hid_b", "b_band_idx", "b_bval")
    val cand = ba.join(bb, col("a_band_idx") === col("b_band_idx") &&
        col("a_bval") === col("b_bval") && col("hid_a") < col("hid_b"))
      .select("hid_a", "hid_b").distinct()
    val verified = cand
      .join(dh.toDF("hid_a", "a_b0", "a_b1", "a_b2", "a_b3"), Seq("hid_a"))
      .join(dh.toDF("hid_b", "b_b0", "b_b1", "b_b2", "b_b3"), Seq("hid_b"))
      .select(col("hid_a"), col("hid_b"),
        (expr("bit_count(a_b0 ^ b_b0) + bit_count(a_b1 ^ b_b1)") +
          expr("bit_count(a_b2 ^ b_b2) + bit_count(a_b3 ^ b_b3)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val diag = dh.select(col("hid").as("hid_a"), col("hid").as("hid_b"),
      lit(0L).as("hamming"))
    val ma = members.select(col("hid").as("hid_a"), col("img_id").as("ia"))
    val mb = members.select(col("hid").as("hid_b"), col("img_id").as("ib"))
    // Off-diagonal: every cross-member combination, ordered by img id;
    // diagonal: member pairs within one hash, each unordered pair once.
    val offDiag = verified.join(ma, "hid_a").join(mb, "hid_b")
    val onDiag = diag.join(ma, "hid_a").join(mb, "hid_b")
      .filter(col("ia") < col("ib"))
    val pairs = offDiag.unionByName(onDiag)
      .select(least(col("ia"), col("ib")).as("img_a"),
        greatest(col("ia"), col("ib")).as("img_b"), col("hamming"))
    (pairs, h, members, dh)
  }

  /** Clip-level video near-dup from per-frame fingerprints — EXACT for
    * the threshold but an order of magnitude cheaper than running
    * [[imageNearDup]] over raw frames: video frames repeat their
    * fingerprints massively (still scenes, fades, re-encodes — the
    * sf0.1 fixture carries 22,500 frames but only ~2,200 distinct
    * hashes, band buckets up to ~800 frames deep), so the pairwise
    * stage here runs over DISTINCT hashes only (Σ bucket² shrinks by
    * the square of the duplication factor) and hash-level matches
    * expand back through per-(hash, video) frame COUNTS directly into
    * the video-pair aggregate — the ~1M-row frame-pair set is never
    * materialized and no distinct over banded candidates is needed.
    *
    * Exactness: every cross-video frame pair within Hamming
    * `maxHamming` is counted exactly once — identical-hash pairs via
    * the diagonal (the `video_a < video_b` guard keeps one orientation
    * of the symmetric expansion), distinct-hash pairs via the banded
    * candidate join over distinct hashes ([[bandBits]] pigeonhole —
    * lossless) oriented by the total order on the packed 64-bit hash,
    * so each (hash_a, hash_b, video_a, video_b) combination is
    * produced once with multiplicity cnt_a·cnt_b. Output matches the
    * all-pairs definition: (video_a, video_b, n_frame_pairs,
    * min_hamming) for pairs with ≥ `minFrames` matching frame pairs. */
  def videoNearDup(frameHashes: DataFrame, maxHamming: Int,
                   minFrames: Long): DataFrame = {
    val (out, hv, dh) = videoNearDupPlan(frameHashes, maxHamming, minFrames)
    Dedup.materializeThenRelease(out, hv, dh)
  }

  /** The un-materialized [[videoNearDup]] dataflow plus its two cached
    * inputs — split out so PlanHygieneSpec can pin the plan SHAPE (the
    * banded candidate join must consume the DISTINCT-hash relation,
    * never raw frames: re-banding frames would reintroduce the ~14M
    * candidate Σ bucket² the distinct-hash compression exists to
    * avoid) before materialization hides the join tree behind the
    * checkpoint scan. */
  private[graft] def videoNearDupPlan(frameHashes: DataFrame, maxHamming: Int,
                                      minFrames: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (video, hash) frame multiplicities. hid re-packs the four stored
    // 16-bit words into the one 64-bit hash — a bijection, so equality
    // / ordering on hid is equality / a total order on the hash.
    val hid = col("b0").bitwiseOR(shiftleft(col("b1"), 16))
      .bitwiseOR(shiftleft(col("b2"), 32))
      .bitwiseOR(shiftleft(col("b3"), 48)).as("hid")
    val hv = frameHashes
      .select(shiftright(col("img_id"), 4).as("video"), hid,
        col("b0"), col("b1"), col("b2"), col("b3"))
      .groupBy("video", "hid", "b0", "b1", "b2", "b3")
      .agg(count(lit(1)).as("cnt"))
      .persist(lvl)
    val dh = hv.select("hid", "b0", "b1", "b2", "b3").distinct().persist(lvl)
    // Threshold-adaptive blocking: probe-side keys joined against
    // exact-side keys (identical frames below the MIH cutover; probe
    // enumerates ≤e flips above it — band distance is symmetric, so
    // catching each unordered pair in the hid_a < hid_b orientation
    // is sufficient).
    val dhKeyed = dh.withColumnRenamed("hid", "img_id")
    val ba = probeBandKeys(dhKeyed, maxHamming)
      .toDF("hid_a", "a_band_idx", "a_bval")
    val bb = exactBandKeys(dhKeyed, maxHamming)
      .toDF("hid_b", "b_band_idx", "b_bval")
    val cand = ba.join(bb, col("a_band_idx") === col("b_band_idx") &&
        col("a_bval") === col("b_bval") && col("hid_a") < col("hid_b"))
      .select("hid_a", "hid_b").distinct()
    val verified = cand
      .join(dh.toDF("hid_a", "a_b0", "a_b1", "a_b2", "a_b3"), Seq("hid_a"))
      .join(dh.toDF("hid_b", "b_b0", "b_b1", "b_b2", "b_b3"), Seq("hid_b"))
      .select(col("hid_a"), col("hid_b"),
        (expr("bit_count(a_b0 ^ b_b0) + bit_count(a_b1 ^ b_b1)") +
          expr("bit_count(a_b2 ^ b_b2) + bit_count(a_b3 ^ b_b3)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // Identical-hash matches: the diagonal, Hamming 0 by definition.
    val diag = dh.select(col("hid").as("hid_a"), col("hid").as("hid_b"),
      lit(0L).as("hamming"))
    val hvA = hv.select(col("hid").as("hid_a"), col("video").as("va"),
      col("cnt").as("ca"))
    val hvB = hv.select(col("hid").as("hid_b"), col("video").as("vb"),
      col("cnt").as("cb"))
    val offDiag = verified.join(hvA, "hid_a").join(hvB, "hid_b")
      .filter(col("va") =!= col("vb"))
    val onDiag = diag.join(hvA, "hid_a").join(hvB, "hid_b")
      .filter(col("va") < col("vb"))
    val out = offDiag.unionByName(onDiag)
      .select(least(col("va"), col("vb")).as("video_a"),
        greatest(col("va"), col("vb")).as("video_b"),
        (col("ca") * col("cb")).as("n"), col("hamming"))
      .groupBy("video_a", "video_b")
      .agg(sum(col("n")).as("n_frame_pairs"),
        min(col("hamming")).as("min_hamming"))
      .filter(col("n_frame_pairs") >= minFrames)
    (out, hv, dh)
  }

  /** (img_id, band_idx, bval) blocking keys of every hash row under the
    * [[bandBits]] layout — shared by the self-join ([[imageNearDup]])
    * and the corpus-vs-batch probe ([[flagAgainstFingerprintIndex]]). */
  // private[graft]: graft.ScaleProbe measures Σ bucket² of the real
  // banded keys for the scale-fixture evidence in SCALE.md.
  private[graft] def bandedImageIds(h: DataFrame, maxHamming: Int): DataFrame = {
    val bandStructs = bandBits(maxHamming).zipWithIndex.map { case (r, k) =>
      struct(lit(k).as("band_idx"), bandValue(r).as("bval"))
    }
    h.select(col("img_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("img_id"), col("b.band_idx").as("band_idx"),
        col("b.bval").as("bval"))
  }

  // --------------------------- multi-index Hamming (dense fingerprint spaces)

  /** Threshold at or above which the banded blocking switches from
    * pigeonhole bands (maxHamming+1 bands of 64/(maxHamming+1) bits) to
    * MULTI-INDEX HAMMING (3 wide bands + probe enumeration). The
    * round-12 10× probe measured why: at threshold 8 the pigeonhole
    * layout leaves 7-bit band values — 128 possible buckets per band,
    * which ANY corpus beyond ~10k fingerprints saturates, making
    * Σ bucket² structurally quadratic (12.4M at sf0.1 → 1.24B at 10×,
    * ×100 — the audio family's cliff; distinct-hash compression can't
    * help because audio fingerprints are near-distinct). MIH (Norouzi,
    * Punjani, Fleet: "Fast Search in Hamming Space with Multi-Index
    * Hashing", CVPR 2012) blocks on 3 bands of 22/21/21 bits and
    * enumerates every ≤⌊h/3⌋-bit flip of the PROBE side's band values:
    * the generalized pigeonhole — if all 3 bands differed by more than
    * ⌊h/3⌋, the total would exceed 3·(⌊h/3⌋+1) > h — makes candidate
    * recall exact, while bucket space grows to 2²¹ and join work drops
    * from Σ bucket² to n·(enumeration ≈ 718 at h=8) + near-pair
    * collisions. Small thresholds keep the simple layout: enumeration
    * grows as C(width, ≤e) while narrow bands only saturate when the
    * threshold (hence band count) is large. */
  private val MihCutover = 7

  private[graft] def useMih(maxHamming: Int): Boolean = maxHamming >= MihCutover

  /** 3 MIH bands over the 64-bit hash: 22 + 21 + 21 bits. */
  private[graft] val mihRanges: Seq[Range] = Seq(0 until 22, 22 until 43, 43 until 64)

  /** Per-band error budget e = ⌊h/3⌋ (3·(e+1) > h — pigeonhole). */
  private def mihErrors(maxHamming: Int): Int = maxHamming / 3

  /** All XOR masks with at most e bits set within `width` bits,
    * ascending popcount — the probe enumeration (254 masks at width 22,
    * e = 2). */
  private def mihMasks(width: Int, e: Int): Seq[Long] =
    (0 to e).flatMap {
      case 0 => Seq(0L)
      case k => (0 until width).combinations(k)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq
    }

  /** Threshold-adaptive blocking keys, EXACT side (what gets indexed):
    * MIH bands at high thresholds, pigeonhole bands below the cutover.
    * Pair with [[probeBandKeys]] — a probe row must be joined against
    * keys of the SAME scheme. */
  private[graft] def exactBandKeys(h: DataFrame, maxHamming: Int): DataFrame =
    if (useMih(maxHamming)) mihExactIds(h) else bandedImageIds(h, maxHamming)

  /** Threshold-adaptive blocking keys, PROBE side (what scans the
    * index): enumerated ≤e-flip variants under MIH, plain band values
    * below the cutover (where the probe and exact sides coincide). */
  private[graft] def probeBandKeys(h: DataFrame, maxHamming: Int): DataFrame =
    if (useMih(maxHamming)) mihProbeIds(h, maxHamming)
    else bandedImageIds(h, maxHamming)

  /** EXACT-side MIH keys: (img_id, band_idx, bval) under [[mihRanges]]. */
  private[graft] def mihExactIds(h: DataFrame): DataFrame = {
    val bandStructs = mihRanges.zipWithIndex.map { case (r, k) =>
      struct(lit(k).as("band_idx"), bandValue(r).as("bval"))
    }
    h.select(col("img_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("img_id"), col("b.band_idx").as("band_idx"),
        col("b.bval").as("bval"))
  }

  /** PROBE-side MIH keys: every ≤e-bit flip of every band value —
    * (img_id, band_idx, bval) rows, ~718 per hash at h=8. The
    * expansion is a BROADCAST join of the exact keys against the tiny
    * (band_idx, mask) table — one XOR per output row. (A first cut
    * exploded a literal mask array over a per-row band-value array;
    * generator/project collapsing re-evaluated the ~64-shift band
    * construction once per OUTPUT row, ~700× per hash — the join form
    * computes each band value exactly once.) */
  private[graft] def mihProbeIds(h: DataFrame, maxHamming: Int): DataFrame = {
    val e = mihErrors(maxHamming)
    val spark = h.sparkSession
    import spark.implicits._
    val masks = mihRanges.zipWithIndex.flatMap { case (r, k) =>
      mihMasks(r.length, e).map(m => (k, m))
    }.toDF("band_idx", "mask")
    exactBandKeys(h, maxHamming)
      .join(broadcast(masks), Seq("band_idx"))
      .select(col("img_id"), col("band_idx"),
        col("bval").bitwiseXOR(col("mask")).as("bval"))
  }

  // ------------------------------------ incremental (streaming) image dedup

  /** Prebuilt aHash band index over a corpus of image hashes — the
    * long-lived state of incremental image dedup (the image twin of
    * [[Dedup.CorpusIndex]]): build once, probe per ingest batch with
    * [[flagAgainstFingerprintIndex]], release with [[releaseFingerprintIndex]]
    * when the stream stops. */
  /** `maxHamming` is captured AT BUILD TIME: the band layout is a
    * function of the threshold, so probing with a different value
    * would compute band keys over different bit ranges and silently
    * lose every collision — the probe therefore reads the threshold
    * from the index instead of taking a second parameter. `cached`
    * tracks every persisted leg (the base pair plus one (bands,
    * hashes) pair per absorbed wave): `bands`/`hashes` become lazy
    * UNIONS of cached legs after [[absorbIntoFingerprintIndex]], and
    * unpersisting a union frame is a silent no-op — release must walk
    * the legs. */
  /** Same `lastBatchId` absorb-watermark contract as
    * [[graft.operators.Dedup.CorpusIndex]].
    *
    * DISTINCT-HASH COMPRESSION (the round-12 10× probe finding — the
    * same cliff [[imageNearDup]] closed in round 11, reproduced in the
    * PROBE path): `bands` holds the blocking keys of DISTINCT hash
    * values only, and `hashMin` carries one row per distinct hash with
    * the smallest member id. A saturated corpus (logos, icons, ramp
    * patterns — the 10× fixture measures raw-row Σ bucket² at 753M vs
    * 7.5M distinct) would otherwise pay duplication² in every per-wave
    * candidate join; hash-level candidates shrink that by the factor
    * squared, and best-match semantics survive exactly because every
    * member of an index hash sits at the SAME Hamming distance from a
    * probe hash — (min hamming, then min img_id) over images equals
    * (min hamming, then min member) over hashes. `hashes` keeps the
    * raw rows as the durable source of truth for save/load. */
  case class FingerprintIndex(bands: DataFrame, hashMin: DataFrame,
                              hashes: DataFrame, maxHamming: Int,
                              cached: Seq[DataFrame] = Nil,
                              lastBatchId: Long = -1L)

  /** The 64-bit hash identity packed from the four stored 16-bit words
    * — shared by [[imageNearDup]]'s compression and the index legs. */
  private def hidCol: org.apache.spark.sql.Column =
    col("b0").bitwiseOR(shiftleft(col("b1"), 16))
      .bitwiseOR(shiftleft(col("b2"), 32))
      .bitwiseOR(shiftleft(col("b3"), 48))

  /** One compressed index leg from a raw (img_id, b0..b3) frame: the
    * distinct-hash min-member table and its band keys, both persisted
    * and materialized (bounded metadata actions — a probe must never
    * re-run the leg build). */
  private def fingerprintLeg(raw: DataFrame, maxHamming: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val h = raw.persist(lvl)
    val hm = h.select(col("img_id"), hidCol.as("hid"),
        col("b0"), col("b1"), col("b2"), col("b3"))
      .groupBy("hid", "b0", "b1", "b2", "b3")
      .agg(min(col("img_id")).as("min_img"))
      .persist(lvl)
    val bands = exactBandKeys(
        hm.select(col("hid").as("img_id"), col("b0"), col("b1"),
          col("b2"), col("b3")), maxHamming)
      .withColumnsRenamed(Map("img_id" -> "hid"))
      .persist(lvl)
    // ONE materialization: bands ← hm ← h is a lineage chain, so
    // counting the tail populates all three caches (r16 — the two
    // extra cached-count jobs were pure scheduling overhead).
    bands.count()
    (bands, hm, h)
  }

  def buildFingerprintIndex(corpusHashes: DataFrame, maxHamming: Int): FingerprintIndex = {
    val (bands, hm, h) = fingerprintLeg(corpusHashes, maxHamming)
    FingerprintIndex(bands, hm, h, maxHamming, Seq(bands, hm, h))
  }

  /** Fold a new wave's fingerprints INTO the index — the media twin of
    * [[Similarity.absorbIvfBatch]], closing the same defect class: a
    * FROZEN index compares every batch against the original corpus
    * forever, so a re-upload of an EARLIER wave's upload sails through
    * unflagged. The wave's hashes and band keys are persisted and
    * materialized as their own legs and the index's `bands`/`hashes`
    * become lazy unions over all legs — probing scans every cached leg
    * (no recomputation, no corpus-sized re-materialization per
    * absorb; per-wave cost is the wave's own band build). A very long
    * stream should compact legs periodically (in production the
    * fingerprint table is durable storage and the index rebuilds from
    * it at restart — which is also the recovery story: the in-memory
    * index is process state, the parquet fingerprint table is the
    * source of truth). Release the FINAL index with
    * [[releaseFingerprintIndex]]; superseded index values share their legs
    * with the successor, so only the last one must be released. */
  def absorbIntoFingerprintIndex(index: FingerprintIndex, newHashes: DataFrame): FingerprintIndex = {
    val (nb, nm, nh) = fingerprintLeg(newHashes, index.maxHamming)
    // A hid may repeat across legs (the same fingerprint arriving in two
    // waves): band candidates dedup at probe time and the best-match
    // window minimizes over the duplicate rows, so the union stays
    // probe-exact; compaction re-aggregates to true distinct.
    FingerprintIndex(index.bands.unionByName(nb),
      index.hashMin.unionByName(nm), index.hashes.unionByName(nh),
      index.maxHamming, index.cached ++ Seq(nb, nm, nh), index.lastBatchId)
  }

  /** Flag one NEW image batch against a prebuilt [[FingerprintIndex]]: banded
    * candidates (new bands × corpus bands — recall-exact for the
    * threshold, [[bandBits]]), exact-Hamming verification, best corpus
    * match per new image (min hamming, then min img_id). Per-ingest
    * cost is the batch's bands plus Σ bucket² candidate work against
    * the index — the corpus side is never recomputed. The result is
    * checkpointed and the batch-side cache dropped before returning
    * (the [[Dedup.materializeThenRelease]] discipline), so repeated
    * micro-batches leak nothing. */
  def flagAgainstFingerprintIndex(newHashes: DataFrame,
                                  index: FingerprintIndex,
                                  idOut: String = "img_new"): DataFrame = {
    val maxHamming = index.maxHamming
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Batch side compresses too: candidates are hash×hash, expanded
    // back to images only after verification.
    val nh = newHashes.select(col("img_id"), hidCol.as("hid")).persist(lvl)
    val nd = newHashes.select(hidCol.as("hid"),
        col("b0"), col("b1"), col("b2"), col("b3"))
      .distinct().persist(lvl)
    val nb = probeBandKeys(
        nd.select(col("hid").as("img_id"), col("b0"), col("b1"),
          col("b2"), col("b3")), maxHamming)
      .withColumnsRenamed(Map("img_id" -> "hid_n"))
    val ob = index.bands.withColumnsRenamed(Map("hid" -> "hid_o"))
    val cand = nb.join(ob, Seq("band_idx", "bval"))
      .select(col("hid_n"), col("hid_o")).distinct()
    val verified = cand
      .join(nd.toDF("hid_n", "n_b0", "n_b1", "n_b2", "n_b3"), Seq("hid_n"))
      .join(index.hashMin.toDF("hid_o", "o_b0", "o_b1", "o_b2", "o_b3",
        "min_img"), Seq("hid_o"))
      .select(col("hid_n"), col("min_img"),
        (expr("bit_count(n_b0 ^ o_b0) + bit_count(n_b1 ^ o_b1)") +
          expr("bit_count(n_b2 ^ o_b2) + bit_count(n_b3 ^ o_b3)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // Best corpus match per new HASH = best per new image (every member
    // of an index hash has the same distance; min_img is the in-hash
    // tie-break, the window handles cross-hash and cross-leg ties).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hid_n").orderBy(col("hamming").asc, col("min_img").asc)
    val bestHash = verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("hid_n"), col("min_img").as("best_match"), col("hamming"))
    // The index is modality-agnostic; the probe id column is named by
    // the caller (audio passes "clip_new") so query layers don't
    // rename after the fact.
    val best = nh.withColumnsRenamed(Map("hid" -> "hid_n"))
      .join(bestHash, Seq("hid_n"))
      .select(col("img_id").as(idOut), col("best_match"), col("hamming"))
    Dedup.materializeThenRelease(best, nh, nd)
  }

  def releaseFingerprintIndex(index: FingerprintIndex): Unit = {
    val legs = if (index.cached.nonEmpty) index.cached
      else Seq(index.bands, index.hashMin, index.hashes)
    legs.foreach(_.unpersist(blocking = false))
  }

  /** Compact a many-leg index back to one persisted leg per frame —
    * the image twin of [[Dedup.compactCorpusIndex]]: materialize the
    * lazy unions, release the superseded legs, probe results
    * unchanged. No-op on an unabsorbed index (its frames ARE the only
    * cached copies). */
  def compactFingerprintIndex(index: FingerprintIndex): FingerprintIndex =
    if (index.cached.length <= 3) index
    else {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // Re-aggregate to TRUE distinct across legs (a hid absorbed by
      // several waves collapses back to one row, min over members) and
      // re-derive its band keys — cheap, the distinct set is small by
      // construction; raw hashes just re-materialize their union.
      val hm = index.hashMin
        .groupBy("hid", "b0", "b1", "b2", "b3")
        .agg(min(col("min_img")).as("min_img"))
        .persist(lvl)
      val bands = exactBandKeys(
          hm.select(col("hid").as("img_id"), col("b0"), col("b1"),
            col("b2"), col("b3")), index.maxHamming)
        .withColumnsRenamed(Map("img_id" -> "hid"))
        .persist(lvl)
      val h = index.hashes.persist(lvl)
      bands.count() // materializes hm through the lineage chain too
      h.count()     // independent frame (the raw-hash union)
      index.cached.foreach(_.unpersist(blocking = false))
      FingerprintIndex(bands, hm, h, index.maxHamming, Seq(bands, hm, h),
        index.lastBatchId)
    }

  /** Durable restart contract — the image twin of
    * [[Dedup.saveCorpusIndex]]: the fingerprint table (plus the
    * build-time threshold, which FIXES the band layout) is the source
    * of truth; bands derive deterministically. Save flattens absorbed
    * waves into one parquet table; [[loadFingerprintIndex]] rebuilds the
    * in-memory index after a restart and probes identically. */
  def saveFingerprintIndex(index: FingerprintIndex, path: String): Unit = {
    index.hashes.write.mode("overwrite").parquet(s"$path/hashes")
    val spark = index.hashes.sparkSession
    import spark.implicits._
    Seq((index.maxHamming, index.lastBatchId))
      .toDF("max_hamming", "last_batch_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadFingerprintIndex(spark: SparkSession, path: String): FingerprintIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    buildFingerprintIndex(spark.read.parquet(s"$path/hashes"),
      meta.head().getAs[Int]("max_hamming"))
      .copy(lastBatchId = graft.operators.Dedup.IndexMeta.lastBatchId(meta))
  }

  /** The base image of every doc (img_id = 2·doc_id, delta 0) — the
    * corpus side of the incremental image dedup fixture. */
  def packBaseImages(spark: SparkSession, docs: DataFrame): Dataset[ImageVariant] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id =>
        ImageVariant(id * 2, id, 0, ImageFixture.renderPng(id, 0))))
  }

  /** A brightness-shifted "re-upload" (img_id = 2·doc_id + 1, delta 1)
    * of each doc in `docs` — the new-batch side of the incremental
    * image dedup fixture: every re-upload has a planted corpus
    * near-match (its own base image), the "same photo re-encoded
    * arrives later" case the stream must flag. */
  def packReuploadImages(spark: SparkSession, docs: DataFrame): Dataset[ImageVariant] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id =>
        ImageVariant(id * 2 + 1, id, 1, ImageFixture.renderPng(id, 1))))
  }

  /** Ingest-wave fixture for the SELF-ACCUMULATING dedup stream: wave
    * `k` (k ≥ 1) re-renders each doc at brightness delta k with
    * img_id = 4·doc_id + k (base corpus images use 4·doc_id, so up to
    * 3 waves coexist without id collisions). Wave 2's nearest
    * fingerprint is usually wave 1's re-render, NOT the base image —
    * exactly the match a frozen index can never produce. */
  def packImageWave(spark: SparkSession, docs: DataFrame, wave: Int): Dataset[ImageVariant] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id =>
        ImageVariant(id * 4 + wave, id, wave, ImageFixture.renderPng(id, wave))))
  }

  /** Base corpus images keyed for the wave fixture (img_id = 4·doc_id,
    * delta 0) — the corpus side [[packImageWave]] waves probe. */
  def packBaseImagesW(spark: SparkSession, docs: DataFrame): Dataset[ImageVariant] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id =>
        ImageVariant(id * 4, id, 0, ImageFixture.renderPng(id, 0))))
  }

  /** The base clip of every doc (clip_id = 2·doc_id, structured
    * render) — the corpus side of the incremental AUDIO dedup
    * fixture. */
  def packBaseAudio(spark: SparkSession, docs: DataFrame): Dataset[AudioClip] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id =>
        AudioClip(id * 2, id, 0, AudioFixture.renderWav(id, 0, 1, structured = true))))
  }

  /** A trimmed AND re-gained "re-upload" (clip_id = 2·doc_id + 1,
    * 3 leading frames zeroed, saturating ×2 gain) of each doc in
    * `docs` — the new-batch side of the incremental audio dedup
    * fixture: the "same clip, trimmed and uploaded louder" case that
    * COMPOUNDS both modeled perturbations, which only the round-11
    * band-median fingerprint can still match against the corpus (the
    * raw-loudness hash lost every gain re-render by construction). */
  def packReuploadAudio(spark: SparkSession, docs: DataFrame): Dataset[AudioClip] = {
    import spark.implicits._
    codecIds(docs)
      .mapPartitions(_.map(id =>
        AudioClip(id * 2 + 1, id, 3, AudioFixture.renderWav(id, 3, 2, structured = true))))
  }
}
