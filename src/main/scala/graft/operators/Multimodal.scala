package graft.operators

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriter}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Rounding

/** One decoded frame from a media payload. */
final case class MediaFrame(
    doc_id: Long,
    frame_idx: Int,
    frame_hex: String,
    frame_mean: Double)

/** Typed metadata decoded from a media payload. */
final case class MediaMeta(
    doc_id: Long,
    size_bytes: Int,
    magic: String,
    width: Int,
    height: Int,
    n_frames: Int,
    mean_px: Double)

/** Perceptual fingerprint computed from a decoded raster. */
final case class PerceptualHash(
    doc_id: Long,
    width: Int,
    height: Int,
    dhash: Long,
    h4_0: Long,
    h4_1: Long,
    h4_2: Long,
    h4_3: Long)

/** Zero-crossing features decoded from an audio payload (M6). */
final case class AudioZcr(
    doc_id: Long,
    n_samples: Long,
    zero_crossings: Long,
    zcr: Double)

/** Banded acoustic fingerprint decoded from an audio payload (M8). */
final case class AudioFingerprint(
    doc_id: Long,
    n_samples: Long,
    afp: Long)

/** Typed features decoded from an audio payload. */
final case class AudioMeta(
    doc_id: Long,
    size_bytes: Int,
    magic: String,
    sample_rate: Int,
    channels: Int,
    bits: Int,
    n_samples: Long,
    duration_s: Double,
    peak: Int,
    rms: Double)

/** M1-M3 (SURVEY.md §2.3): multimodal columns. Images travel as opaque
  * `binary` columns; decode/feature-extraction runs as batched
  * per-partition processing over a REAL image decoder — the JDK's
  * `javax.imageio` (headless, zero external dependencies): PNG and
  * multi-frame GIF are synthesized with `ImageIO.write` and decoded
  * with `ImageIO.read`/`ImageReader.read(i)`, so width/height, frame
  * count, and every pixel statistic come from actual decoded rasters.
  * The test corpus carries no binary media, so payloads are synthesized
  * deterministically from the doc id ([[synthesizeCorpus]]); the
  * synthesis parameters are closed-form integer functions of the id,
  * which is what lets the DuckDB oracle check REAL decode output
  * without owning a codec.
  *
  * Audio is REAL too for uncompressed PCM: WAV payloads synthesize and
  * decode sample-exactly through `javax.sound.sampled` (format fields,
  * duration, peak, RMS from actual samples). Only COMPRESSED codecs
  * (H.264/AAC/MP3 — absent from the JDK and this environment) remain
  * behind [[decodeOpaqueStub]], which keeps that contract — bytes in,
  * typed features out — as the documented seam a deployment fills with
  * its codec.
  *
  * mapInPandas equivalence: this is the same executor contract a
  * Python decoder would use via `df.mapInPandas(fn, schema)` —
  * iterator of fixed-size batches in, iterator of typed rows out,
  * decoder state initialized once per partition, output schema
  * declared up front (the case classes here play the role of the
  * pandas UDF's schema string). A deployment whose codecs live in
  * Python swaps `mapPartitions(decodeBatches)` for `mapInPandas`
  * with a batch size set by `spark.sql.execution.arrow
  * .maxRecordsPerBatch` — partitioning, schema, and the 1:N frame
  * fanout shape carry over unchanged.
  */
object Multimodal {

  /** Batch size for the per-partition decode loop — mirrors the arrow
    * batch shape a vectorized (pandas-style) UDF would see.
    */
  val DecodeBatchSize: Int = 64

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // creates (and deletes) a temp file — thousands of in-memory payloads
  // per partition turn into filesystem churn and tmp-dir contention
  // across executor threads. All payloads here are byte arrays; cache
  // in memory. (JVM-wide flag; executors touch it once per JVM.)
  private lazy val memoryCachedIo: Unit = ImageIO.setUseCache(false)

  // ---- thread-local codec reuse (r17 opt) --------------------------
  // Every per-row `ImageIO.write` / `ImageIO.getImageReaders` call
  // walks the SYNCHRONIZED IIORegistry; with 32 decode tasks the
  // registry lock serializes the codec stages (measured: the image
  // synthesize+decode checkpoint ran seconds of wall for microseconds
  // of per-payload codec math). One writer/reader per (thread, format)
  // removes the per-row registry walk and the lock; setInput/setOutput
  // fully reset these stateless JDK codecs between payloads
  // (CodecReuseSpec pins byte/raster equality against fresh-instance
  // output, including interleaved formats and repeated reuse).
  private val pngWriterTl: ThreadLocal[ImageWriter] =
    ThreadLocal.withInitial(() =>
      ImageIO.getImageWritersByFormatName("png").next())
  private val gifWriterTl: ThreadLocal[ImageWriter] =
    ThreadLocal.withInitial(() =>
      ImageIO.getImageWritersByFormatName("gif").next())
  private val pngReaderTl: ThreadLocal[ImageReader] =
    ThreadLocal.withInitial(() =>
      ImageIO.getImageReadersByFormatName("png").next())
  private val gifReaderTl: ThreadLocal[ImageReader] =
    ThreadLocal.withInitial(() =>
      ImageIO.getImageReadersByFormatName("gif").next())

  /** Run `f` with a reader for `bytes`: pooled PNG/GIF reader via a
    * magic sniff (the corpus' two containers), registry walk for
    * anything else — identical decode either way, the pool only skips
    * the per-row registry lock.
    */
  private def withReader[A](id: Long, bytes: Array[Byte])(
      f: ImageReader => A): A = {
    memoryCachedIo
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val (reader, pooled) =
      if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 &&
          bytes(1) == 'P'.toByte) (pngReaderTl.get(), true)
      else if (bytes.length >= 3 && bytes(0) == 'G'.toByte &&
          bytes(1) == 'I'.toByte && bytes(2) == 'F'.toByte)
        (gifReaderTl.get(), true)
      else {
        val rs = ImageIO.getImageReaders(iis)
        require(rs.hasNext, s"no ImageIO reader for payload of doc $id")
        (rs.next(), false)
      }
    try {
      reader.setInput(iis, false, true)
      f(reader)
    } finally {
      if (pooled) reader.setInput(null) else reader.dispose()
      iis.close()
    }
  }

  /** Encode through the pooled PNG writer (byte-identical to
    * `ImageIO.write(img, "png", out)` — CodecReuseSpec).
    */
  private def pngBytes(img: BufferedImage): Array[Byte] = {
    memoryCachedIo
    val out = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    val writer = pngWriterTl.get()
    writer.setOutput(ios)
    try writer.write(null, new IIOImage(img, null, null), null)
    finally { writer.setOutput(null); ios.close() }
    out.toByteArray
  }

  // ---- deterministic synthesis parameters (shared with the oracle) --
  // Every decoded statistic below is a closed-form integer function of
  // the doc id: gray(y, frame) is constant along x, so the oracle can
  // reproduce full-image and per-frame means with one list_sum — while
  // the Spark side reads them out of real decoded rasters.

  /** Image width: 64..124, step 4. */
  def widthOf(id: Long): Int = 64 + math.floorMod(id, 16).toInt * 4

  /** Image height: 32..120, step 8 (divisible by 4 for band tests). */
  def heightOf(id: Long): Int = 32 + math.floorMod(id, 12).toInt * 8

  /** Gray ramp slope per row: 1..7. */
  def slopeOf(id: Long): Int = 1 + math.floorMod(id, 7).toInt

  /** Gray offset: 0..255. */
  def offsetOf(id: Long): Int = math.floorMod(id, 256).toInt

  /** GIF frame count: 1..4. */
  def framesOf(id: Long): Int = 1 + math.floorMod(id, 4).toInt

  /** Per-frame gray shift. */
  val FrameStep: Int = 17

  /** The synthesized gray value at row `y` of frame `frame`. */
  def grayAt(id: Long, y: Int, frame: Int): Int =
    (slopeOf(id) * y + offsetOf(id) + frame * FrameStep) % 256

  private def frameImage(id: Long, frame: Int): BufferedImage = {
    val (w, h) = (widthOf(id), heightOf(id))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h) {
      val v = grayAt(id, y, frame)
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, v); x += 1 }
    }
    img
  }

  /** A real single-frame PNG of the deterministic pattern (pooled
    * writer — byte-identical to `ImageIO.write`, see [[pngBytes]]).
    */
  def synthesizePng(id: Long): Array[Byte] = pngBytes(frameImage(id, 0))

  /** Fresh-instance reference for CodecReuseSpec. */
  private[operators] def synthesizePngRef(id: Long): Array[Byte] = {
    memoryCachedIo
    val out = new ByteArrayOutputStream()
    ImageIO.write(frameImage(id, 0), "png", out)
    out.toByteArray
  }

  /** A real animated GIF: [[framesOf]] frames of the pattern, each
    * shifted by [[FrameStep]] — the 1:N payload the frame sampler
    * decodes.
    */
  def synthesizeGif(id: Long): Array[Byte] = {
    memoryCachedIo
    val out = new ByteArrayOutputStream()
    val writer = gifWriterTl.get()
    val ios = new MemoryCacheImageOutputStream(out)
    writer.setOutput(ios)
    try {
      writer.prepareWriteSequence(null)
      for (f <- 0 until framesOf(id))
        writer.writeToSequence(new IIOImage(frameImage(id, f), null, null), null)
      writer.endWriteSequence()
    } finally {
      writer.setOutput(null)
      ios.close()
    }
    out.toByteArray
  }

  /** Fresh-instance reference for CodecReuseSpec. */
  private[operators] def synthesizeGifRef(id: Long): Array[Byte] = {
    memoryCachedIo
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until framesOf(id))
      writer.writeToSequence(new IIOImage(frameImage(id, f), null, null), null)
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    out.toByteArray
  }

  /** Mixed-format payload: PNG for even ids, GIF for odd — metadata
    * extraction must sniff the container, like a real crawl corpus.
    */
  def mediaFor(id: Long): Array[Byte] =
    if (id % 2 == 0) synthesizePng(id) else synthesizeGif(id)

  /** Attach a deterministic binary media column to an id frame:
    * (id, media) rows, synthesized per partition — no driver state.
    */
  def synthesizeCorpus(df: DataFrame, idCol: String,
      gifOnly: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      // codec work is CPU-bound and input partitioning follows FILE
      // size, not decode cost — a small parquet of ids arrives as one
      // partition and would encode/decode the whole corpus in a single
      // task (measured 14 s -> ~1 s at sf0.1 for the frame query)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map(id => (id, if (gifOnly) synthesizeGif(id) else mediaFor(id)))
      }
      .toDF("doc_id", "media")
  }

  // ---- audio (real PCM WAV via javax.sound.sampled) ----------------
  // The JDK also ships an audio codec for uncompressed PCM: WAV
  // containers encode/decode sample-exactly through
  // javax.sound.sampled.AudioSystem. Compressed codecs (MP3/AAC) stay
  // behind [[decodeOpaqueStub]]; PCM is the interchange format a
  // training pipeline's feature extraction actually reads anyway.

  /** Audio sample rate: 8000/12000/16000 Hz. */
  def rateOf(id: Long): Int = 8000 + math.floorMod(id, 3).toInt * 4000

  /** Sample count: 800..2200. */
  def samplesOf(id: Long): Int = 800 + math.floorMod(id, 8).toInt * 200

  /** The synthesized 16-bit PCM sample at index `i`: a deterministic
    * ramp in [-2048, 2047], closed-form for the oracle.
    */
  def sampleAt(id: Long, i: Int): Int =
    (slopeOf(id) * i + offsetOf(id)) % 4096 - 2048

  /** A real mono 16-bit PCM WAV of the deterministic ramp.
    *
    * r17 opt: the bytes are assembled directly (canonical 44-byte
    * RIFF/WAVE header + PCM data) instead of through
    * `javax.sound.sampled.AudioSystem.write` — the per-row SPI writer
    * was the synthesis half of the fingerprint stage's measured
    * bottleneck. `WavSynthesisBytesSpec` pins the output BYTE-IDENTICAL
    * to the SPI writer ([[synthesizeWavRef]]) across every (rate,
    * length) residue class, so every downstream decode, size_bytes
    * field, and oracle is untouched.
    */
  def synthesizeWav(id: Long): Array[Byte] = {
    val n = samplesOf(id)
    val rate = rateOf(id)
    val dataLen = n * 2
    val out = new Array[Byte](44 + dataLen)
    def putTag(o: Int, s: String): Unit = {
      out(o) = s.charAt(0).toByte; out(o + 1) = s.charAt(1).toByte
      out(o + 2) = s.charAt(2).toByte; out(o + 3) = s.charAt(3).toByte
    }
    def put32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte
      out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def put16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    putTag(0, "RIFF"); put32(4, 36 + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16)
    put16(20, 1) // PCM
    put16(22, 1) // mono
    put32(24, rate)
    put32(28, rate * 2) // byte rate
    put16(32, 2) // block align
    put16(34, 16) // bits per sample
    putTag(36, "data"); put32(40, dataLen)
    var i = 0
    while (i < n) {
      val v = sampleAt(id, i)
      out(44 + 2 * i) = (v & 0xff).toByte
      out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** The SPI-writer reference [[synthesizeWav]] must match byte for
    * byte (spec arm only — see WavSynthesisBytesSpec).
    */
  private[operators] def synthesizeWavRef(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = samplesOf(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = sampleAt(id, i)
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rateOf(id).toFloat, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Attach a deterministic WAV media column to an id frame. */
  def synthesizeAudioCorpus(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(it => it.map(id => (id, synthesizeWav(id))))
      .toDF("doc_id", "media")
  }

  /** REAL audio decode: container/format fields from the decoded WAV
    * header, peak and RMS energy from the actual PCM samples. Plain
    * PCM 16-bit little-endian payloads take the in-array header-parse
    * fast path ([[decodePcmWavFast]] — no per-row AudioSystem SPI
    * stream allocation in the hot loop); anything else falls back to
    * the general `javax.sound.sampled` decode, which also serves as
    * the fast path's differential check in MultimodalSpec.
    */
  def decodeAudio(id: Long, bytes: Array[Byte]): AudioMeta =
    decodePcmWavFast(id, bytes).getOrElse(decodeAudioGeneral(id, bytes))

  /** RIFF/WAVE chunk walk over the payload bytes for the plain-PCM
    * contract (format tag 1, 16-bit samples): fmt fields read from the
    * header, peak/sum-of-squares from the data chunk bytes in place.
    * Identical arithmetic to [[decodeAudioGeneral]] — RMS divides the
    * all-channel square sum by the FRAME count, duration = frames/rate.
    * Returns None (→ general path) for any other container/encoding.
    */
  private[operators] def decodePcmWavFast(id: Long, bytes: Array[Byte]): Option[AudioMeta] = {
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmtSeen = false
    var rate = 0
    var channels = 0
    while (off + 8 <= bytes.length) {
      val chunk = tag(off)
      val size = u32(off + 4).toInt
      // Declared sizes >= 0x80000000 wrap negative in the Int cast and
      // would stall or reverse the chunk advance below — route such
      // corrupt payloads to the general path, which raises cleanly.
      if (size < 0) return None
      if (chunk == "fmt ") {
        if (size < 16 || off + 8 + 16 > bytes.length) return None
        if (u16(off + 8) != 1) return None // not plain PCM (float/ADPCM/…)
        channels = u16(off + 10)
        rate = u32(off + 12).toInt
        if (u16(off + 22) != 16) return None // sample loop below is 16-bit
        if (channels < 1 || rate <= 0) return None
        fmtSeen = true
      } else if (chunk == "data") {
        if (!fmtSeen) return None
        val start = off + 8
        val end = math.min(start + size, bytes.length)
        var peak = 0
        var sumSq = 0L
        var i = start
        while (i < end - 1) {
          val v = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toInt
          if (math.abs(v) > peak) peak = math.abs(v)
          sumSq += v.toLong * v
          i += 2
        }
        val frames = (end - start) / (2 * channels)
        return Some(AudioMeta(
          doc_id = id,
          size_bytes = bytes.length,
          magic = magicHex(bytes),
          sample_rate = rate,
          channels = channels,
          bits = 16,
          n_samples = frames.toLong,
          duration_s = frames.toDouble / rate,
          peak = peak,
          rms = math.sqrt(sumSq.toDouble / frames)))
      }
      // RIFF chunks are word-aligned; advance in Long so a declared
      // size near Int.MaxValue can't wrap `off` negative and index OOB.
      val next = off.toLong + 8L + size.toLong + (size & 1)
      if (next > bytes.length.toLong) return None
      off = next.toInt
    }
    None
  }

  /** General decode through `javax.sound.sampled` (any SPI-supported
    * container); the reference arithmetic the fast path must match.
    */
  private[operators] def decodeAudioGeneral(id: Long, bytes: Array[Byte]): AudioMeta = {
    import javax.sound.sampled.AudioSystem
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      val n = in.getFrameLength
      val pcm = in.readAllBytes()
      var peak = 0
      var sumSq = 0L
      var i = 0
      while (i < pcm.length - 1) {
        val v = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort.toInt
        if (math.abs(v) > peak) peak = math.abs(v)
        sumSq += v.toLong * v
        i += 2
      }
      AudioMeta(
        doc_id = id,
        size_bytes = bytes.length,
        magic = magicHex(bytes),
        sample_rate = fmt.getSampleRate.toInt,
        channels = fmt.getChannels,
        bits = fmt.getSampleSizeInBits,
        n_samples = n,
        duration_s = n.toDouble / fmt.getSampleRate.toInt,
        peak = peak,
        rms = math.sqrt(sumSq.toDouble / n))
    } finally in.close()
  }

  /** Per-payload zero-crossing analysis from the REAL decoded sample
    * stream (M6): zero-crossing count (sign flip between consecutive
    * samples, zero counted non-negative — the standard voiced/unvoiced
    * and tonality heuristic) plus the round-6 per-transition rate.
    * All-integer until the one display division, so the oracle
    * recomputes both from the closed-form synthesis ramp.
    */
  def extractAudioZcr(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            audioZcrFast(id, bytes).getOrElse(audioZcrGeneral(id, bytes))
          }
        }
      }
      .toDF()
  }

  /** SPI ZCR decode — the reference arithmetic [[audioZcrFast]] must
    * match (and the route for non-plain-PCM containers).
    */
  private[operators] def audioZcrGeneral(id: Long, bytes: Array[Byte]): AudioZcr = {
    import javax.sound.sampled.AudioSystem
    val in = AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    try {
              val declared = in.getFrameLength
              val pcm = in.readAllBytes()
              var crossings = 0L
              var prevNonNeg = true
              var first = true
              var i = 0
              while (i < pcm.length - 1) {
                val v = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort.toInt
                val nonNeg = v >= 0
                if (!first && nonNeg != prevNonNeg) crossings += 1
                prevNonNeg = nonNeg
                first = false
                i += 2
              }
              // getFrameLength is NOT_SPECIFIED (-1) for streamed
              // sources — fall back to the decoded byte count; and a
              // 0/1-frame payload has no transitions at all, so its
              // rate is 0 by definition (the unguarded n-1 division
              // would be Inf/NaN and BigDecimal would throw, failing
              // the whole task for one degenerate row)
              val frameSize =
                if (in.getFormat.getFrameSize > 0) in.getFormat.getFrameSize else 2
              val n = if (declared >= 0) declared else pcm.length.toLong / frameSize
              val rate =
                if (n <= 1) 0.0
                else Rounding.round6(crossings.toDouble / (n - 1))
              AudioZcr(id, n, crossings, rate)
    } finally in.close()
  }

  /** M8: acoustic fingerprint from the REAL decoded PCM stream — the
    * audio counterpart of the image dHash ([[perceptualHashOf]]): the
    * sample stream is cut into 61 contiguous windows (sample i goes to
    * window (i*61) div n — integer division, no boundary float), each
    * window's ENERGY is the exact Long sum of its squared 16-bit
    * samples, and bit j (0..59) is set when window j+1's energy
    * strictly exceeds window j's. Sign-of-energy-delta is the
    * classic tempo/envelope fingerprint shape (Haitsma-Kalker style),
    * reduced to all-integer arithmetic so the value is
    * engine-independent — the same lesson as the dHash's row sampling:
    * no FFT, no float window functions, nothing encoder-defined — and
    * the DuckDB oracle can recompute every bit from the closed-form
    * synthesis ramp without owning a codec. 60 bits keeps the
    * fingerprint positive in every engine's signed 64-bit integer;
    * strict `>` makes equal energies a 0 bit with no tie hazard.
    */
  def audioFingerprintOf(id: Long, bytes: Array[Byte]): AudioFingerprint =
    audioFingerprintFast(id, bytes)
      .getOrElse(audioFingerprintGeneral(id, bytes))

  /** The 60-bit energy-delta fold shared by both fingerprint paths:
    * 61 equal sample-index bands of Σ sample², bit j set iff band j+1
    * carries more energy than band j.
    */
  private def energyDeltaBits(energy: Array[Long]): Long = {
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (energy(j + 1) > energy(j)) fp |= 1L << j
      j += 1
    }
    fp
  }

  /** r17 opt — the fingerprint counterpart of [[decodePcmWavFast]]:
    * the per-row `AudioSystem.getAudioInputStream` SPI walk measured
    * as the whole fingerprint stage's bottleneck (2.8 s of a 32-task
    * decode stage at sf0.1; the PCM math itself is microseconds per
    * clip). Plain-PCM 16-bit WAVs take this in-array path — same
    * chunk-walk guards as the meta fast path, same sample arithmetic
    * as [[audioFingerprintGeneral]] (frame count from the declared
    * block align, samples read at byte offset 2·i into the data
    * chunk) — anything else falls back to the SPI decode.
    * `AudioFingerprintFastPathSpec` pins fast == general on the
    * synthesized corpus and on crafted multi-channel/truncated
    * payloads.
    */
  /** Shared chunk walk for the in-array PCM fast paths: Some((block
    * align, data offset, data size)) iff `bytes` is a plain 16-bit PCM
    * RIFF/WAVE whose declared block align matches channels*2 and whose
    * data chunk is fully present — every condition under which the SPI
    * decode's sample arithmetic is exactly reproducible in-array.
    * Anything else (float/ADPCM, 8/24-bit, truncated data, corrupt
    * sizes) returns None and the caller falls back to the SPI path.
    */
  private def pcmDataChunk(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmtSeen = false
    var channels = 0
    var blockAlign = 0
    while (off + 8 <= bytes.length) {
      val chunk = tag(off)
      val size = u32(off + 4).toInt
      if (size < 0) return None
      if (chunk == "fmt ") {
        if (size < 16 || off + 8 + 16 > bytes.length) return None
        if (u16(off + 8) != 1) return None // not plain PCM
        channels = u16(off + 10)
        blockAlign = u16(off + 20)
        if (u16(off + 22) != 16) return None // 16-bit samples only
        // the general path's frameSize comes from the SPI format,
        // which derives it from the declared block align — a payload
        // whose block align disagrees with channels*2 goes to the SPI
        // path so the two paths can never diverge on it
        if (channels < 1 || blockAlign != channels * 2) return None
        fmtSeen = true
      } else if (chunk == "data") {
        if (!fmtSeen) return None
        val start = off + 8
        // truncated payload (declared data size past EOF): the SPI
        // stream's partial-frame behavior is its own — don't mirror
        // it, route to the general path
        if (start.toLong + size > bytes.length.toLong) return None
        return Some((blockAlign, start, size))
      }
      val next = off.toLong + 8L + size.toLong + (size & 1)
      if (next > bytes.length.toLong) return None
      off = next.toInt
    }
    None
  }

  private[operators] def audioFingerprintFast(id: Long,
      bytes: Array[Byte]): Option[AudioFingerprint] =
    pcmDataChunk(bytes).map { case (blockAlign, start, size) =>
      val n = size / blockAlign
      val energy = new Array[Long](61)
      var i = 0
      while (i < n) {
        val p = start + 2 * i
        val v = ((bytes(p) & 0xff) | (bytes(p + 1) << 8)).toShort.toLong
        energy(((i.toLong * 61L) / n).toInt) += v * v
        i += 1
      }
      AudioFingerprint(id, n.toLong, energyDeltaBits(energy))
    }

  /** r17 opt — the in-array ZCR counterpart of [[audioFingerprintFast]]:
    * same whole-frame byte walk as the SPI path (which reads
    * frames*frameSize bytes and steps every 2 bytes across ALL
    * interleaved channels), same n = declared frame count, same
    * round-6 rate. `AudioFingerprintFastPathSpec` pins fast == SPI.
    */
  private[operators] def audioZcrFast(id: Long,
      bytes: Array[Byte]): Option[AudioZcr] =
    pcmDataChunk(bytes).map { case (blockAlign, start, size) =>
      val n = (size / blockAlign).toLong
      // the SPI stream hands back WHOLE frames only — walk exactly
      // n * blockAlign bytes, not a possibly mid-frame declared size
      val end = start + (n * blockAlign).toInt
      var crossings = 0L
      var prevNonNeg = true
      var first = true
      var i = start
      while (i < end - 1) {
        val v = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toInt
        val nonNeg = v >= 0
        if (!first && nonNeg != prevNonNeg) crossings += 1
        prevNonNeg = nonNeg
        first = false
        i += 2
      }
      val rate =
        if (n <= 1) 0.0
        else Rounding.round6(crossings.toDouble / (n - 1))
      AudioZcr(id, n, crossings, rate)
    }

  /** SPI fingerprint decode — the reference arithmetic the fast path
    * must match (and the route for any non-plain-PCM container).
    */
  private[operators] def audioFingerprintGeneral(id: Long,
      bytes: Array[Byte]): AudioFingerprint = {
    import javax.sound.sampled.AudioSystem
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val pcm = in.readAllBytes()
      val frameSize =
        if (in.getFormat.getFrameSize > 0) in.getFormat.getFrameSize else 2
      val n = (pcm.length / frameSize).toInt
      val energy = new Array[Long](61)
      var i = 0
      while (i < n) {
        val v = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toLong
        energy(((i.toLong * 61L) / n).toInt) += v * v
        i += 1
      }
      AudioFingerprint(id, n.toLong, energyDeltaBits(energy))
    } finally in.close()
  }

  /** [[audioFingerprintOf]] over an (id, media) DataFrame — the same
    * per-partition batched decode contract as [[extractMeta]].
    */
  def audioFingerprint(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            audioFingerprintOf(id, bytes) }
        }
      }
      .toDF()
  }

  /** M8 -> D4 composition (audio near-dup end to end, completing the
    * near-dup triad across text/image/audio): decode every payload's
    * PCM once into its 60-bit energy-delta fingerprint
    * ([[audioFingerprint]]), then find all pairs within `maxHamming`
    * bits through the same banded Hamming machinery as SimHash and the
    * image dHash ([[Dedup.bandedHammingPairs]]). With nBands >
    * maxHamming the band join is EXACT by pigeonhole — the output
    * equals a brute-force all-pairs scan while the shuffle stays
    * proportional to true bucket collisions (at 10^9 clips all-pairs
    * is 10^18 comparisons; the band join is Σ bucket²). `maxBucket`
    * guards the degenerate-bucket blowup (silence shares one
    * fingerprint corpus-wide); run exact byte dedup first so identical
    * files never reach the pair stage.
    */
  def audioNearDup(df: DataFrame, idCol: String, mediaCol: String,
      maxHamming: Int = 2, nBands: Int = 3, maxBucket: Long = 0): DataFrame =
    Dedup.bandedHammingPairs(
      audioFingerprint(df, idCol, mediaCol), "doc_id", "afp",
      totalBits = 60, nBands = nBands, maxHamming = maxHamming,
      maxBucket = maxBucket)

  /** Decode a (id, WAV binary) DataFrame into typed audio features —
    * the same batched mapPartitions contract as [[extractMeta]].
    */
  def extractAudioMeta(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) => decodeAudio(id, bytes) }
        }
      }
      .toDF()
  }

  // ---- real decode -------------------------------------------------

  /** Raw gray value of a decoded pixel. Indexed images (GIF) resolve
    * through the palette (the raster sample is the palette INDEX);
    * single-band component images (gray PNG) read the raster directly
    * (getRGB would gamma-convert gray -> sRGB and corrupt the value).
    */
  private def pixelAt(img: BufferedImage, x: Int, y: Int): Int =
    img.getColorModel match {
      case _: IndexColorModel => img.getRGB(x, y) & 0xff
      case _ if img.getRaster.getNumBands == 1 => img.getRaster.getSample(x, y, 0)
      case _ => img.getRGB(x, y) & 0xff
    }

  private def frameSum(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    var sum = 0L
    img.getColorModel match {
      case icm: IndexColorModel =>
        // bulk raster read + one palette lookup table: a per-pixel
        // getRGB pays color-model dispatch per call
        val lut = new Array[Byte](icm.getMapSize)
        icm.getBlues(lut)
        val idx = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
        var i = 0
        while (i < idx.length) { sum += lut(idx(i)) & 0xff; i += 1 }
      case _ if img.getRaster.getNumBands == 1 =>
        val s = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
        var i = 0
        while (i < s.length) { sum += s(i); i += 1 }
      case _ =>
        for (y <- 0 until h; x <- 0 until w) sum += img.getRGB(x, y) & 0xff
    }
    sum
  }

  private def magicHex(bytes: Array[Byte]): String =
    bytes.take(4).map("%02x".format(_)).mkString

  /** REAL image decode: container sniffing, frame count, dimensions,
    * and the frame-0 pixel mean all come from `javax.imageio`. Throws
    * on undecodable payloads — corrupt-input policy belongs to the
    * caller (filter or quarantine), not silently fabricated metadata.
    */
  def decodeImage(id: Long, bytes: Array[Byte]): MediaMeta =
    withReader(id, bytes) { reader =>
      val n = reader.getNumImages(true)
      val first = reader.read(0)
      MediaMeta(
        doc_id = id,
        size_bytes = bytes.length,
        magic = magicHex(bytes),
        width = first.getWidth,
        height = first.getHeight,
        n_frames = n,
        mean_px = frameSum(first).toDouble / (first.getWidth.toLong * first.getHeight))
    }

  /** STUB decoder for payloads the JDK cannot decode (video/audio —
    * no H.264/AAC codec ships with the JVM and this container has no
    * ffmpeg): derives typed features from the raw bytes
    * deterministically so the downstream plumbing stays testable. The
    * signature (bytes in, [[MediaMeta]] out) is the contract a
    * deployment's codec call fills; the image path above shows the
    * filled-in shape.
    */
  def decodeOpaqueStub(id: Long, bytes: Array[Byte]): MediaMeta = {
    val u = bytes.map(_ & 0xff)
    def byteAt(i: Int): Int = if (u.length > i) u(i) else 0
    MediaMeta(
      doc_id = id,
      size_bytes = bytes.length,
      magic = magicHex(bytes),
      width = 64 + (byteAt(0) % 16) * 32,
      height = 64 + (byteAt(1) % 16) * 32,
      n_frames = 1 + byteAt(2) % 8,
      mean_px = if (u.isEmpty) 0.0 else u.sum.toDouble / u.length)
  }

  /** Decode a (id, media binary) DataFrame into typed metadata rows.
    * mapPartitions + grouped(batch) is the Scala analog of mapInPandas:
    * per-partition, batched, no driver involvement, schema declared via
    * the case-class encoder. The decode is REAL (`javax.imageio`).
    */
  def extractMeta(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          // ImageIO reader instances are per-payload; what amortizes
          // per batch in a real deployment is codec context setup
          batch.iterator.map { case (id, bytes) => decodeImage(id, bytes) }
        }
      }
      .toDF()
  }

  /** M5: perceptual fingerprint from the REAL decoded raster — a
    * 60-bit row-gradient dHash (bit j set when the pixel sum of sample
    * row y_{j+1} exceeds sample row y_j, rows sampled at
    * y_j = (j * (h-1)) div 60) plus a 4-bin luminance histogram
    * (pixel count per gray quartile), both in ONE pass over the
    * decoded samples. 60 bits keeps the hash positive in every
    * engine's signed 64-bit integer; strict `>` makes equal rows a 0
    * bit with no tie hazard.
    *
    * This is the content-addressing step of image near-dup pipelines
    * (dHash buckets feed the same band-join machinery as SimHash, D4);
    * unlike the classic resize-to-9x8 dHash, sampling rows of the
    * ORIGINAL raster keeps the value engine-independent — interpolated
    * resampling is encoder-defined (the documented reason q_mm_resize
    * gates dims, not pixels), while raster reads round-trip exactly.
    */
  def perceptualHashOf(id: Long, bytes: Array[Byte]): PerceptualHash =
    withReader(id, bytes) { reader =>
      val img = reader.read(0)
      val (w, h) = (img.getWidth, img.getHeight)
      // gray samples with palette resolution (same contract as frameSum)
      val gray: Array[Int] = img.getColorModel match {
        case icm: IndexColorModel =>
          val lut = new Array[Byte](icm.getMapSize)
          icm.getBlues(lut)
          img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
            .map(i => lut(i) & 0xff)
        case _ if img.getRaster.getNumBands == 1 =>
          img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
        case _ =>
          val a = new Array[Int](w * h)
          for (y <- 0 until h; x <- 0 until w) a(y * w + x) = img.getRGB(x, y) & 0xff
          a
      }
      val rowSum = new Array[Long](h)
      val hist = new Array[Long](4)
      var i = 0
      while (i < gray.length) {
        val v = gray(i)
        rowSum(i / w) += v
        hist(v >> 6) += 1L
        i += 1
      }
      var dh = 0L
      var j = 0
      while (j < 60) {
        if (rowSum(((j + 1) * (h - 1)) / 60) > rowSum((j * (h - 1)) / 60))
          dh |= 1L << j
        j += 1
      }
      PerceptualHash(id, w, h, dh, hist(0), hist(1), hist(2), hist(3))
    }

  /** [[perceptualHashOf]] over an (id, media) DataFrame — the same
    * per-partition batched decode contract as [[extractMeta]].
    */
  def perceptualHash(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) => perceptualHashOf(id, bytes) }
        }
      }
      .toDF()
  }

  /** M5 -> D4 composition (image near-dup end to end): decode every
    * payload's raster once into its 60-bit dHash ([[perceptualHash]]),
    * then find all pairs within `maxHamming` bits through the banded
    * Hamming machinery ([[Dedup.bandedHammingPairs]]). With the
    * default 6 bands of 10 bits and maxHamming <= 5 the band join is
    * EXACT by pigeonhole — the output equals a brute-force all-pairs
    * scan while the shuffle stays proportional to true bucket
    * collisions (the property that matters when the corpus is 10^9
    * images, where all-pairs is 10^18 comparisons).
    *
    * `maxBucket` guards the degenerate-bucket blowup (a flat or
    * monochrome dHash shared corpus-wide); run exact byte dedup first
    * so identical files never reach the pair stage.
    */
  def imageNearDup(df: DataFrame, idCol: String, mediaCol: String,
      maxHamming: Int = 5, nBands: Int = 6, maxBucket: Long = 0): DataFrame =
    Dedup.bandedHammingPairs(
      perceptualHash(df, idCol, mediaCol), "doc_id", "dhash",
      totalBits = 60, nBands = nBands, maxHamming = maxHamming,
      maxBucket = maxBucket)

  /** Frame sampling: one media payload -> one row per DECODED frame
    * (animated GIF frames here; video frames at a deployment), the 1:N
    * decode shape. `frame_hex` is the first 4 pixels down column 0 of
    * the frame, `frame_mean` the exact pixel mean — both from the real
    * decoded raster.
    */
  def sampleFrames(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes) =>
            withReader(id, bytes) { reader =>
              (0 until reader.getNumImages(true)).map { f =>
                val img = reader.read(f)
                val hex = (0 until math.min(4, img.getHeight))
                  .map(y => "%02x".format(pixelAt(img, 0, y))).mkString
                MediaFrame(id, f, hex,
                  frameSum(img).toDouble / (img.getWidth.toLong * img.getHeight))
              }
            }
          }
        }
      }
      .toDF()
  }

  /** Resize: REAL pixel transform — decode, scale preserving aspect
    * ratio so the long side caps at `maxSide` (never upscale), redraw
    * through Graphics2D, re-encode as PNG. Output carries the resized
    * payload so callers can verify by decoding it.
    */
  def resize(df: DataFrame, idCol: String, mediaCol: String,
      maxSide: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val src = withReader(id, bytes)(_.read(0))
            val scale = math.min(1.0,
              maxSide.toDouble / math.max(src.getWidth, src.getHeight))
            val ow = math.max(1, math.round(src.getWidth * scale).toInt)
            val oh = math.max(1, math.round(src.getHeight * scale).toInt)
            val dst = new BufferedImage(ow, oh, BufferedImage.TYPE_BYTE_GRAY)
            val g = dst.createGraphics()
            try g.drawImage(src, 0, 0, ow, oh, null)
            finally g.dispose()
            (id, src.getWidth, src.getHeight, ow, oh, scale, pngBytes(dst))
          }
        }
      }
      .toDF("doc_id", "width", "height", "out_width", "out_height",
        "scale", "resized")
  }
}
