package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by partition-batched decode /
  * feature-extract stages.
  *
  * Two decode legs run REAL codecs with nothing beyond the JDK: images
  * via `javax.imageio` (PNG/JPEG/BMP/GIF) and audio via
  * `javax.sound.sampled` (WAV/PCM/AIFF/AU). `decodeStub` remains as the
  * stage template for formats whose codecs this container lacks (video):
  * deterministic fake features derived from the bytes, with everything
  * around it — the schema, the binary column, the batched
  * `mapPartitions` stage shape, the size-aware repartitioning — being
  * the real Spark-side design: at 100 TB the decode stage is the
  * expensive part, so records are batched per partition (amortizing
  * per-batch model/codec setup, the Scala analog of `mapInPandas`) and
  * partitions are sized by media bytes, not row count.
  */
object Multimodal {

  /** Build a media table from the documents table: payload = utf-8 bytes
    * of the text (a deterministic stand-in for real image/audio bytes).
    */
  def mediaFromDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("application/fake").as("mime"),
      encode(col("text"), "UTF-8").as("data"),
      struct(length(col("text")).cast("long").as("n_bytes"),
        col("source").as("source")).as("meta"))

  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 first_byte: Int, last_byte: Int,
                                 byte_sum32: Long)

  /** STUB decode: deterministic fake features from the payload bytes.
    * Replace the body with a real codec (JPEG decode, resample, frame
    * sample) — the stage shape stays identical.
    */
  def decodeStub(data: Array[Byte]): MediaFeatures =
    MediaFeatures(0L, data.length,
      if (data.nonEmpty) data(0) & 0xFF else 0,
      if (data.nonEmpty) data(data.length - 1) & 0xFF else 0,
      data.take(32).foldLeft(0L)((a, b) => a + (b & 0xFF)))

  /** Partition-batched feature extraction: one "codec" per partition,
    * records processed in a tight loop (the mapInPandas-equivalent batch
    * shape). Input is round-robin repartitioned: media sizes are heavily
    * skewed, and range-partitioning by size would CONCENTRATE the largest
    * payloads into one partition — random placement balances total decode
    * bytes per executor in expectation.
    */
  def extractFeatures(media: DataFrame, targetPartitions: Int = 0): Dataset[MediaFeatures] =
    perPayload(media, targetPartitions)((id, data) =>
      Some(decodeStub(data).copy(media_id = id)))

  /** THE per-payload stage every decode / sniff entry point runs: an
    * optional round-robin repartition (`targetPartitions <= 0` keeps the
    * input's partitioning — and works on a streaming frame), then
    * `kernel` over each (media_id, data) record inside one
    * `mapPartitions` — per-partition setup (codec init, model load, …)
    * belongs in this loop. The kernel returns any number of rows per
    * payload: none drops an undecodable record, several explode one
    * payload (frame sampling).
    */
  private def perPayload[T <: Product : TypeTag](media: DataFrame, targetPartitions: Int)(
      kernel: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    val spark = media.sparkSession
    import spark.implicits._
    val sized =
      if (targetPartitions > 0) media.repartition(targetPartitions)
      else media
    sized.select(col("media_id"), col("data")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, data) => kernel(id, data) })
  }

  final case class Frame(media_id: Long, frame_idx: Int, offset: Long,
                         frame_sum: Long)

  /** Frame sampling (the video path): fixed-stride windows over the
    * payload, one output row per sampled frame — a flatMap inside the same
    * partition-batched stage, so the row explosion happens DISTRIBUTED
    * (never a driver loop) and a real frame decoder drops into the window
    * loop unchanged. Only full windows are emitted. `frame_sum` stands in
    * for per-frame features.
    */
  def sampleFrames(media: DataFrame, frameSize: Int, stride: Int,
                   maxFrames: Int, targetPartitions: Int = 0): Dataset[Frame] =
    perPayload(media, targetPartitions) { (id, data) =>
      Iterator.range(0, maxFrames)
        .map(i => (i, i.toLong * stride))
        .takeWhile { case (_, off) => off + frameSize <= data.length }
        .map { case (i, off) =>
          var s = 0L
          var j = off.toInt
          while (j < off + frameSize) { s += data(j) & 0xFF; j += 1 }
          Frame(id, i, off, s)
        }
    }

  /** Resize stub (the image path): keep every `factor`-th byte — the
    * stage shape of a real resize (smaller binary out, metadata updated in
    * place, same batched stage). */
  def resizeStub(media: DataFrame, factor: Int): DataFrame = {
    val shrink = udf { (data: Array[Byte]) =>
      Array.tabulate(data.length / factor)(i => data(i * factor))
    }
    media.withColumn("data", shrink(col("data")))
      .withColumn("meta", struct(length(col("data")).cast("long").as("n_bytes"),
        col("meta.source").as("source")))
  }

  // --------------------------------------------------------------------
  // REAL image decode — the JDK's javax.imageio needs no native codecs
  // (PNG/JPEG/BMP/GIF), so this leg of m1 runs actual bytes→pixels in
  // this sandbox. Same batched mapPartitions stage shape as the stub:
  // swap `decodeImage` for a heavier codec and nothing else moves.
  // --------------------------------------------------------------------

  final case class ImageFeatures(media_id: Long, width: Int, height: Int,
                                 mean_r: Double, mean_g: Double, mean_b: Double)

  /** THE safe decode — one definition for every ImageIO entry point
    * (features, dHash, resize). None for undecodable bytes: corrupt
    * records are a fact of any 100 TB media crawl, and a throw here
    * would fail the task 4× and abort the whole job — NonFatal, not
    * just IOException, because hostile payloads surface as CMMException
    * / IllegalArgumentException / ArrayIndexOutOfBounds from inside
    * ImageIO. Disables ImageIO's DISK cache first (JVM-global,
    * idempotent): the default wraps every read/write in a temp FILE on
    * executor-local disk — one create+delete per record of pure
    * overhead when the bytes are already in memory.
    */
  private def readImage(data: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(img).filter(i => i.getWidth > 0 && i.getHeight > 0)
  }

  /** Decode one payload into summary features ([[readImage]] contract:
    * corrupt bytes drop, never throw).
    */
  def decodeImage(data: Array[Byte]): Option[ImageFeatures] = {
    readImage(data).map { i =>
      val (w, h) = (i.getWidth, i.getHeight)
      // one bulk grab, not w×h getRGB calls
      val px = i.getRGB(0, 0, w, h, null, 0, w)
      var (r, g, b) = (0L, 0L, 0L)
      var j = 0
      while (j < px.length) {
        r += (px(j) >> 16) & 0xFF; g += (px(j) >> 8) & 0xFF; b += px(j) & 0xFF
        j += 1
      }
      val n = w.toLong * h
      ImageFeatures(0L, w, h, r.toDouble / n, g.toDouble / n, b.toDouble / n)
    }
  }

  /** Real-decode twin of [[extractFeatures]]: dimensions + per-channel
    * means via ImageIO, per-partition batched, undecodable rows dropped.
    */
  def extractImageFeatures(media: DataFrame, targetPartitions: Int = 0): Dataset[ImageFeatures] =
    perPayload(media, targetPartitions)((id, data) =>
      decodeImage(data).map(_.copy(media_id = id)))

  /** Deterministic synthetic PNG: a 90×80 grid of 10×10 blocks whose
    * brightness is MurmurHash3(pattern, row, col) — plus a global
    * brightness shift, which dHash's local comparisons cancel. Two
    * images with the same `pattern` are perceptual twins at any shifts;
    * different patterns are far apart. The media generator for the m4
    * entry and the specs: the testdata ships no images, so the demo
    * corpus is rendered ON THE EXECUTORS (headless AWT), which also
    * makes the decode stage's input real PNG bytes end-to-end.
    */
  def syntheticPatternPng(pattern: Long, brightnessShift: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(90, 80,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    for (br <- 0 until 8; bc <- 0 until 9) {
      val v0 = math.abs(scala.util.hashing.MurmurHash3
        .productHash((pattern, br, bc)) % 200) + 20
      val v = math.min(255, v0 + brightnessShift)
      g.setColor(new java.awt.Color(v, v, v))
      g.fillRect(bc * 10, br * 10, 10, 10)
    }
    g.dispose()
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  /** 64-bit difference hash (dHash) — the classic perceptual image
    * fingerprint: resample the decoded image to a 9×8 luma grid
    * (bilinear), set bit r·8+c when cell (r,c) is darker than its right
    * neighbor. Robust to re-encoding, scaling, and mild global
    * brightness/contrast shifts (the bit is a LOCAL comparison, so a
    * constant added to every pixel cancels); Hamming distance between
    * hashes tracks visual difference. None for undecodable bytes.
    */
  def dHash(data: Array[Byte]): Option[Long] = {
    readImage(data).map { i =>
      val grid = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = grid.createGraphics()
      g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(i, 0, 0, 9, 8, null)
      g2.dispose()
      val px = grid.getRGB(0, 0, 9, 8, null, 0, 9)
      def luma(p: Int): Int =
        (((p >> 16) & 0xFF) * 299 + ((p >> 8) & 0xFF) * 587 + (p & 0xFF) * 114) / 1000
      var h = 0L
      for (r <- 0 until 8; c <- 0 until 8)
        if (luma(px(r * 9 + c)) < luma(px(r * 9 + c + 1)))
          h |= 1L << (r * 8 + c)
      h
    }
  }

  /** (media_id, simhash) perceptual fingerprints — the column is named
    * `simhash` so the d4 Hamming machinery applies unchanged. Same
    * batched stage shape as [[extractImageFeatures]]; undecodable rows
    * drop.
    */
  def imageDHashes(media: DataFrame, targetPartitions: Int = 0): DataFrame =
    perPayload(media, targetPartitions)((id, data) => dHash(data).map(id -> _))
      .toDF("media_id", "simhash")

  /** Perceptual near-duplicate image pairs: real decode → dHash → the d4
    * pigeonhole chunk equi-join (any pair within Hamming `maxDist` shares
    * at least one exact chunk of the fingerprint split `maxDist`+1 ways).
    * The 100 TB shape: pixels never shuffle — after the batched decode
    * stage only 8-byte fingerprints move, and candidate generation is an
    * equi-join, not an all-pairs scan.
    */
  def perceptualDupPairs(media: DataFrame, maxDist: Int,
                         targetPartitions: Int = 0): DataFrame =
    Dedup.hammingPairs(imageDHashes(media, targetPartitions), maxDist,
      bits = 64, "media_id")

  /** The pairing stage of [[perceptualDupPairs]] alone, over an
    * already-computed (media_id, simhash) fingerprint table — split out
    * so the post-decode tail of m4 is hash-checkable: persist the
    * fingerprints, pair through the persisted bytes, and let a SQL
    * oracle replay the pigeonhole chunk equi-join + bit_count filter
    * over the same parquet (the d4b discipline applied to m4; the decode
    * itself has no SQL-expressible oracle and stays spec-verified).
    */
  def pairsFromFingerprints(fingerprints: DataFrame, maxDist: Int): DataFrame =
    Dedup.hammingPairs(fingerprints, maxDist, bits = 64, "media_id")

  // --------------------------------------------------------------------
  // REAL audio decode — the JDK's javax.sound.sampled reads WAV/PCM
  // (and AIFF/AU) with no native codecs, so this leg of m1 runs actual
  // bytes→samples in this sandbox, replacing the WAV stub. Same batched
  // mapPartitions stage shape as the image leg.
  // --------------------------------------------------------------------

  final case class AudioFeatures(media_id: Long, sample_rate: Int,
                                 channels: Int, n_samples: Long, peak: Int,
                                 rms_milli: Long)

  /** THE safe audio decode — [[readImage]]'s contract for sound: parse
    * the container, CONVERT whatever PCM variant it holds to signed
    * 16-bit little-endian at the native rate/channels, return the
    * interleaved samples; None for undecodable bytes (NonFatal, not just
    * UnsupportedAudioFileException — hostile headers surface as
    * ArrayIndexOutOfBounds and friends from inside the WAV parser).
    */
  private def readPcm(data: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Short])] = {
    import javax.sound.sampled._
    try {
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(data))
      try {
        val f0 = in.getFormat
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f0.getSampleRate, 16, f0.getChannels, 2 * f0.getChannels,
          f0.getSampleRate, false)
        val pcm = AudioSystem.getAudioInputStream(target, in)
        val bytes = pcm.readAllBytes()
        val n = bytes.length / 2
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort
          i += 1
        }
        Some((pcm.getFormat, samples))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode one payload into summary features. Integer sample units
    * end-to-end: peak = max |sample|, rms_milli = round(1000·√(Σs²/n))
    * — the sum of squares is an exact Long, so the value is independent
    * of partitioning and decode batch order.
    */
  def decodeAudio(data: Array[Byte]): Option[AudioFeatures] =
    readPcm(data).map { case (fmt, samples) =>
      var sumSq = 0L
      var peak = 0
      var i = 0
      while (i < samples.length) {
        val v = samples(i).toInt
        if (math.abs(v) > peak) peak = math.abs(v)
        sumSq += v.toLong * v
        i += 1
      }
      val rms =
        if (samples.isEmpty) 0.0
        else math.sqrt(sumSq.toDouble / samples.length)
      AudioFeatures(0L, fmt.getSampleRate.toInt, fmt.getChannels,
        samples.length.toLong, peak, math.round(rms * 1000))
    }

  /** Audio twin of [[extractImageFeatures]]: per-partition batched
    * decode, undecodable rows dropped.
    */
  def extractAudioFeatures(media: DataFrame,
                           targetPartitions: Int = 0): Dataset[AudioFeatures] =
    perPayload(media, targetPartitions)((id, data) =>
      decodeAudio(data).map(_.copy(media_id = id)))

  final case class SpectralFeatures(media_id: Long, sample_rate: Int,
                                    n_windows: Int, dominant_band: Int,
                                    band_milli: Seq[Long])

  /** Goertzel power |X(k)|² of bin `k` over `x[from, from+n)` — the
    * single-bin DFT recurrence (Goertzel 1958; standard DSP textbook
    * material): O(n) per bin with one cosine, no FFT plan, no
    * allocation — the right shape for "a handful of bands per payload"
    * inside a batched decode stage. */
  private def goertzelPower(x: Array[Double], from: Int, n: Int, k: Int): Double = {
    val coeff = 2.0 * math.cos(2.0 * math.Pi * k / n)
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < n) {
      val s = x(from + i) + coeff * s1 - s2
      s2 = s1; s1 = s
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** Spectral band energies (m10) — the tone/music/silence triage the
    * peak/RMS features (m5) can't support: per payload, decode to PCM
    * ([[readPcm]]'s corrupt-drop contract), mix to mono, slice into
    * `window`-sample windows, and accumulate Goertzel power at each
    * requested band frequency's NEAREST BIN (integer `k` =
    * round(f·window/rate) — a tone sitting exactly on a bin leaks
    * nothing into the others, which is what makes the entry's milli
    * fractions closed-form). Output per band = ‰ of the summed measured
    * energy (integer milli, deterministic per payload), plus the
    * dominant band index (−1 for silence). Windows beyond the last full
    * one are ignored; payloads shorter than one window drop.
    */
  def spectralBands(data: Array[Byte], bandHz: Array[Double],
                    window: Int): Option[SpectralFeatures] =
    readPcm(data).flatMap { case (fmt, samples) =>
      val ch = fmt.getChannels
      val nFrames = samples.length / ch
      if (nFrames < window || bandHz.isEmpty || window <= 0) None
      else {
        val sr = fmt.getSampleRate.toDouble
        val mono = new Array[Double](nFrames)
        var f = 0
        while (f < nFrames) {
          var s = 0.0; var c = 0
          while (c < ch) { s += samples(f * ch + c); c += 1 }
          mono(f) = s / ch
          f += 1
        }
        val nW = nFrames / window
        val energy = new Array[Double](bandHz.length)
        var wi = 0
        while (wi < nW) {
          var bi = 0
          while (bi < bandHz.length) {
            val k = math.max(0, math.round(bandHz(bi) * window / sr).toInt)
            energy(bi) += goertzelPower(mono, wi * window, window, k)
            bi += 1
          }
          wi += 1
        }
        val tot = energy.sum
        val milli: Seq[Long] =
          if (tot <= 0) bandHz.toSeq.map(_ => 0L)
          else energy.toSeq.map(e => math.round(1000.0 * e / tot))
        var dom = -1
        if (tot > 0) {
          var best = Double.NegativeInfinity
          var i = 0
          while (i < energy.length) {
            if (energy(i) > best) { best = energy(i); dom = i }
            i += 1
          }
        }
        Some(SpectralFeatures(0L, fmt.getSampleRate.toInt, nW, dom, milli))
      }
    }

  /** Spectral twin of [[extractAudioFeatures]]: per-partition batched
    * decode + Goertzel bands, undecodable rows dropped. */
  def audioSpectralFeatures(media: DataFrame, bandHz: Array[Double],
                            window: Int,
                            targetPartitions: Int = 0): Dataset[SpectralFeatures] =
    perPayload(media, targetPartitions)((id, data) =>
      spectralBands(data, bandHz, window).map(_.copy(media_id = id)))

  /** Deterministic synthetic tone: `nSamples` of a `freqHz` sine at
    * `amplitude` (of full scale), 16-bit mono PCM wrapped in a real WAV
    * container by `AudioSystem.write`. The audio-media generator for
    * the m5 entry and the specs — the testdata ships no audio, so the
    * corpus is rendered ON THE EXECUTORS, which also makes the decode
    * stage's input real WAV bytes end-to-end (the
    * [[syntheticPatternPng]] pattern).
    */
  def syntheticToneWav(freqHz: Double, nSamples: Int, sampleRate: Int,
                       amplitude: Double): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = (amplitude * 32767.0 *
        math.sin(2 * math.Pi * freqHz * i / sampleRate)).round.toInt
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
      fmt, nSamples.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  /** Resample one WAV payload to `targetRate` by per-channel linear
    * interpolation over the decoded samples, re-encoded as 16-bit PCM
    * WAV. Hand-rolled interpolation because the JDK converts PCM
    * ENCODINGS, not sample rates (no rate-conversion service provider
    * ships with it); linear is deterministic and integer-in/integer-out.
    * None for undecodable or empty payloads.
    */
  def resampleWav(data: Array[Byte], targetRate: Int): Option[Array[Byte]] = {
    import javax.sound.sampled._
    readPcm(data).flatMap { case (fmt, samples) =>
      val ch = fmt.getChannels
      val srcRate = fmt.getSampleRate.toDouble
      val nFrames = samples.length / ch
      if (nFrames == 0) None
      else {
        val outFrames =
          math.max(1, math.round(nFrames * targetRate / srcRate).toInt)
        val out = new Array[Byte](outFrames * ch * 2)
        var f = 0
        while (f < outFrames) {
          val pos = f * srcRate / targetRate
          val i0 = math.min(nFrames - 1, pos.toInt)
          val i1 = math.min(nFrames - 1, i0 + 1)
          val frac = pos - i0
          var c = 0
          while (c < ch) {
            val v = math.round(samples(i0 * ch + c) * (1 - frac) +
              samples(i1 * ch + c) * frac).toInt
            val idx = (f * ch + c) * 2
            out(idx) = (v & 0xFF).toByte
            out(idx + 1) = ((v >> 8) & 0xFF).toByte
            c += 1
          }
          f += 1
        }
        val ofmt = new AudioFormat(targetRate.toFloat, 16, ch, true, false)
        val ais = new AudioInputStream(new java.io.ByteArrayInputStream(out),
          ofmt, outFrames.toLong)
        val buf = new java.io.ByteArrayOutputStream()
        AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
        Some(buf.toByteArray)
      }
    }
  }

  /** Audio twin of [[resizeImages]]: resample every payload to
    * `targetRate` in the same batched stage shape, media frame out.
    * Undecodable payloads pass through UNCHANGED (a transform stage must
    * not drop or kill on corrupt records; a downstream decode counts
    * them).
    */
  def resampleAudio(media: DataFrame, targetRate: Int): DataFrame =
    transformPayloads(media)(resampleWav(_, targetRate).map(("audio/wav", _)))

  /** THE payload-transform stage ([[resampleAudio]], [[resizeImages]]):
    * media frame in, media frame out, `kernel` mapping one payload to its
    * new (mime, data). A kernel's None passes the record through
    * UNCHANGED; `meta.n_bytes` follows the bytes actually emitted.
    */
  private def transformPayloads(media: DataFrame)(
      kernel: Array[Byte] => Option[(String, Array[Byte])]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    asMedia(media.select(col("media_id"), col("mime"), col("data"), col("meta.source"))
      .as[(Long, String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, mime, data, source) =>
        val (outMime, outData) = kernel(data).getOrElse((mime, data))
        (id, outMime, outData, outData.length.toLong, source)
      }))
  }

  /** (id, mime, data, n_bytes, source) rows as the media frame shape. */
  private def asMedia(rows: Dataset[(Long, String, Array[Byte], Long, String)]): DataFrame =
    rows.toDF("media_id", "mime", "data", "n_bytes", "source")
      .select(col("media_id"), col("mime"), col("data"),
        struct(col("n_bytes"), col("source")).as("meta"))

  /** Executor-rendered tone corpus keyed off the documents table (the
    * audio analog of the m4 PNG corpus): frequency and amplitude are
    * deterministic functions of doc_id, so every feature row the m5
    * entry emits is reproducible.
    */
  def audioFromDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    asMedia(docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val data = syntheticToneWav(freqHz = 200.0 + (id % 20) * 55.0,
          nSamples = 2000, sampleRate = 8000,
          amplitude = 0.2 + (id % 5) * 0.15)
        (id, "audio/wav", data, data.length.toLong, "synth")
      }))
  }

  /** Real resize: scale so the longer edge is ≤ `maxDim` (never
    * upscales), re-encode as PNG. Returns the media frame shape — id,
    * mime, data, meta — so it drops into the same pipeline slot as
    * [[resizeStub]]. Undecodable payloads pass through UNCHANGED (same
    * rationale as [[decodeImage]]: a resize stage must not drop or kill
    * on corrupt records; a downstream decode stage counts them).
    */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame =
    transformPayloads(media) { data =>
      for {
        img <- readImage(data)
        if math.max(img.getWidth, img.getHeight) > maxDim
      } yield {
        val s = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
        val (w, h) = (math.max(1, (img.getWidth * s).round.toInt),
          math.max(1, (img.getHeight * s).round.toInt))
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(img, 0, 0, w, h, null)
        g2.dispose()
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", buf)
        ("image/png", buf.toByteArray)
      }
    }

  // ---- container-header sniffing (m6): dimensions WITHOUT decode ------

  final case class MediaHeader(media_id: Long, fmt: String,
                               width: Int, height: Int)

  /** Parse image dimensions from the CONTAINER HEADER alone — no pixel
    * decode, no ImageIO. This is the triage pass a corpus-scale pipeline
    * runs first: dimensions/format decide resize factors, aspect-ratio
    * filters, and decode-cost budgeting, and they live in the first
    * couple hundred bytes — decoding (CPU ~10³× the sniff) or even
    * reading the full payload to learn them is waste. Formats: PNG
    * (IHDR is fixed at byte 16 by spec), JPEG (marker walk to the first
    * SOFn frame header), GIF (logical screen descriptor, LE16 at 6),
    * BMP (BITMAPINFOHEADER, LE32 at 18). Returns None for anything
    * truncated, corrupt, or unrecognized — callers drop, never throw
    * (one bad payload must not kill a 100 TB stage).
    */
  def sniffDimensions(data: Array[Byte]): Option[MediaHeader] = {
    def u8(i: Int) = data(i) & 0xFF
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    try {
      if (data.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' &&
          u8(3) == 'G' && u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A &&
          u8(7) == 0x0A && new String(data, 12, 4, "US-ASCII") == "IHDR") {
        val (w, h) = (be32(16), be32(20))
        if (w > 0 && h > 0) Some(MediaHeader(0L, "png", w, h)) else None
      } else if (data.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
        // marker walk: FF <code> [len_be16 payload]; standalone markers
        // (TEM, RSTn) carry no length. SOFn = C0..CF minus C4/C8/CC.
        var i = 2
        var out: Option[MediaHeader] = None
        while (out.isEmpty && i + 3 < data.length) {
          if (u8(i) != 0xFF) return None // desynced — corrupt stream
          val code = u8(i + 1)
          if (code == 0xFF) i += 1 // fill byte
          else if (code == 0x01 || (code >= 0xD0 && code <= 0xD8)) i += 2
          else if (code == 0xD9 || code == 0xDA) return None // EOI/SOS before SOF
          else {
            val len = be16(i + 2)
            if (len < 2) return None
            if (code >= 0xC0 && code <= 0xCF &&
                code != 0xC4 && code != 0xC8 && code != 0xCC) {
              if (i + 9 >= data.length) return None
              val (h, w) = (be16(i + 5), be16(i + 7))
              out = if (w > 0 && h > 0) Some(MediaHeader(0L, "jpeg", w, h)) else None
              if (out.isEmpty) return None
            }
            i += 2 + len
          }
        }
        out
      } else if (data.length >= 10 &&
          (new String(data, 0, 6, "US-ASCII") == "GIF87a" ||
           new String(data, 0, 6, "US-ASCII") == "GIF89a")) {
        Some(MediaHeader(0L, "gif", le16(6), le16(8)))
      } else if (data.length >= 26 && u8(0) == 'B' && u8(1) == 'M' &&
          le32(14) >= 40) {
        val (w, h) = (le32(18), le32(22))
        // height may be negative (top-down DIB); magnitude is the size
        if (w > 0 && h != 0) Some(MediaHeader(0L, "bmp", w, math.abs(h))) else None
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  final case class WavHeader(media_id: Long, n_channels: Int,
                             sample_rate: Int, bits: Int, n_samples: Long)

  /** WAV container-header sniff (m7) — the audio leg of [[sniffDimensions]]:
    * channels / rate / bit depth / sample count from the RIFF chunk walk
    * alone, no `javax.sound` codec, no PCM read. Sample count is derived,
    * not stored: data-chunk bytes ÷ frame size. The walk is generic
    * (chunks are skipped by their declared size, odd sizes padded to
    * even per RIFF), so writers that emit LIST/fact chunks before `data`
    * parse identically. None for anything truncated or non-PCM-shaped.
    */
  def sniffWav(data: Array[Byte]): Option[WavHeader] = {
    def u16(i: Int) = (data(i) & 0xFF) | ((data(i + 1) & 0xFF) << 8)
    def u32(i: Int) = (data(i) & 0xFF).toLong | ((data(i + 1) & 0xFF).toLong << 8) |
      ((data(i + 2) & 0xFF).toLong << 16) | ((data(i + 3) & 0xFF).toLong << 24)
    def tag(i: Int) = new String(data, i, 4, "US-ASCII")
    try {
      if (data.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var i = 12L
      var fmt: Option[(Int, Int, Int)] = None
      var dataBytes = -1L
      while (i + 8 <= data.length && (fmt.isEmpty || dataBytes < 0)) {
        val ii = i.toInt
        val (id, size) = (tag(ii), u32(ii + 4))
        if (id == "fmt " && size >= 16 && i + 8 + 16 <= data.length) {
          val audioFormat = u16(ii + 8)
          if (audioFormat != 1) return None // PCM only, like readPcm
          fmt = Some((u16(ii + 10), u32(ii + 12).toInt, u16(ii + 22)))
        } else if (id == "data") {
          // A streamed writer's data chunk may legitimately declare more
          // bytes than it flushed, but n_samples must come from bytes
          // that EXIST — and only from the CHUNK's bytes, not whatever
          // trails it: a corrupt declared size on a file with chunks
          // after `data` (LIST/INFO metadata) would otherwise count
          // those trailing bytes as PCM. When the declaration overruns
          // the file, the payload is bounded at the first even offset
          // from which a plausible chunk chain (printable 4-char tags,
          // declared sizes tiling exactly to EOF) begins — else at EOF.
          // Heuristic, and only on the already-corrupt path: PCM that
          // coincidentally tiles like a chunk chain under-counts, where
          // the old clamp over-counted metadata as samples; a truthful
          // declaration is never second-guessed.
          def printableTag(j: Int): Boolean = (0 until 4).forall { o =>
            val b = data(j + o) & 0xFF; b >= 0x20 && b <= 0x7E
          }
          // TOTAL step budget across every candidate walk: the scan is
          // offsets × chain-steps, and a crafted payload of long
          // almost-tiling chains would otherwise be O(n²) inside an
          // executor task — the same hazard class as the Long-advance
          // hang below. On exhaustion fall back to the EOF clamp (conservative
          // overcount, never a hang; this branch only runs on files
          // whose declaration is already corrupt).
          var scanBudget = 1L << 20
          def chunkChainTilesToEof(start: Long): Boolean = {
            var j = start
            while (j + 8 <= data.length) {
              scanBudget -= 1
              if (scanBudget <= 0) return false
              if (!printableTag(j.toInt)) return false
              val sz = u32(j.toInt + 4)
              val nxt = j + 8 + sz + (sz & 1L)
              if (nxt > data.length) return false
              j = nxt
            }
            j == data.length.toLong
          }
          val payloadStart = i + 8
          val present = math.max(0L, data.length.toLong - payloadStart)
          dataBytes =
            if (size <= present) size
            else {
              var j = payloadStart
              var boundary = -1L
              while (boundary < 0 && j + 8 <= data.length && scanBudget > 0) {
                if (chunkChainTilesToEof(j)) boundary = j
                j += 2
              }
              (if (boundary >= 0) boundary else data.length.toLong) - payloadStart
            }
        }
        // Advance entirely in Long: a corrupt chunk declaring size near
        // 0xFFFFFFFF would, as an Int, wrap the step to ≤ 0 and hang the
        // executor thread forever (NonFatal can't catch a hang — one bad
        // payload must not kill a 100 TB stage). `size` from u32 is an
        // unsigned Long, so `next` is strictly > i; a declared size that
        // runs past the payload just ends the walk, matching the
        // "None for anything truncated or corrupt" contract. RIFF pads
        // odd chunks to even.
        val next = i + 8 + size + (size & 1L)
        if (next <= i || next > data.length) {
          // corrupt/oversized chunk: keep whatever fmt/data we already
          // saw (a data chunk legitimately extends to EOF in streamed
          // writers), but stop walking.
          i = data.length.toLong + 8
        } else i = next
      }
      for ((ch, rate, bits) <- fmt; if dataBytes >= 0 && ch > 0 && bits >= 8)
        yield WavHeader(0L, ch, rate, bits, dataBytes / (ch * bits / 8))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Header-sniff a WAV media table — the [[imageHeaders]] stage shape
    * with [[sniffWav]] as the kernel; undecodable rows drop.
    */
  def wavHeaders(media: DataFrame, targetPartitions: Int = 0): Dataset[WavHeader] =
    perPayload(media, targetPartitions)((id, data) =>
      sniffWav(data).map(_.copy(media_id = id)))

  /** Deterministic REAL image bytes for a media id: a solid-color
    * `(16 + id % 64) × (16 + id % 48)` image, PNG for even ids and JPEG
    * for odd — the dimensions are a closed form of the id, which is
    * what makes the generate→encode→sniff roundtrip oracle-checkable
    * while still passing through a real encoder's byte stream.
    */
  def syntheticImageBytes(id: Long): Array[Byte] = {
    val (w, h) = ((16 + id % 64).toInt, (16 + id % 48).toInt)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((id * 2654435761L) & 0xFFFFFF).toInt
    val g2 = img.createGraphics()
    g2.setColor(new java.awt.Color(rgb))
    g2.fillRect(0, 0, w, h)
    g2.dispose()
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, if (id % 2 == 0) "png" else "jpeg", buf)
    buf.toByteArray
  }

  /** Header-sniff a media table: the [[extractFeatures]] batch shape
    * (round-robin repartition, per-partition loop) with
    * [[sniffDimensions]] as the kernel; undecodable rows drop.
    */
  def imageHeaders(media: DataFrame, targetPartitions: Int = 0): Dataset[MediaHeader] =
    perPayload(media, targetPartitions)((id, data) =>
      sniffDimensions(data).map(_.copy(media_id = id)))

  // ───────────────────────── video containers (m9) ─────────────────────────

  final case class VideoHeader(media_id: Long, fmt: String, width: Int,
                               height: Int, duration_ms: Long, n_tracks: Int)

  private def u32be(d: Array[Byte], i: Long): Long = {
    val k = i.toInt
    ((d(k) & 0xFF).toLong << 24) | ((d(k + 1) & 0xFF).toLong << 16) |
      ((d(k + 2) & 0xFF).toLong << 8) | (d(k + 3) & 0xFF).toLong
  }
  private def u64be(d: Array[Byte], i: Long): Long =
    (u32be(d, i) << 32) | u32be(d, i + 4)

  /** Walk the ISO-BMFF boxes in `data[from, until)`. Handles compact
    * (u32) sizes, `size == 1` → 64-bit largesize, and `size == 0` →
    * box extends to the end of the enclosing scope. All arithmetic in
    * Long (the sniffWav hang lesson): a corrupt size can never step
    * backwards, so the walk always terminates. Returns false on any
    * malformed box — callers treat that as "not this container".
    */
  private def walkBoxes(data: Array[Byte], from: Long, until: Long)(
      f: (String, Long, Long) => Unit): Boolean = {
    var i = from
    while (i + 8 <= until) {
      val size32 = u32be(data, i)
      val tp = new String(data, i.toInt + 4, 4, "US-ASCII")
      var header = 8L
      var size = size32
      if (size32 == 1L) {
        if (i + 16 > until) return false
        size = u64be(data, i + 8); header = 16L
      } else if (size32 == 0L) size = until - i
      val next = i + size
      if (size < header || next <= i || next > until) return false
      f(tp, i + header, next)
      i = next
    }
    true
  }

  /** MP4 / ISO-BMFF header sniff: duration from `moov/mvhd` (version 0
    * and 1 layouts), track count from `trak` boxes, dimensions from the
    * video track's `tkhd` 16.16 fixed-point width/height (an audio
    * track's tkhd carries 0×0 and is skipped). First bytes only — no
    * sample tables, no codec config parsed, the m6/m7 triage
    * discipline. None unless the payload leads with `ftyp` and carries
    * a well-formed `moov` with both mvhd and a sized video track.
    */
  def sniffMp4(data: Array[Byte]): Option[VideoHeader] = {
    try {
      if (data.length < 16) return None
      if (u32be(data, 0) < 8 ||
          new String(data, 4, 4, "US-ASCII") != "ftyp") return None
      var durationMs = -1L
      var w = 0; var h = 0; var nTracks = 0
      val ok = walkBoxes(data, 0, data.length) { (tp, ps, pe) =>
        if (tp == "moov") {
          val okMoov = walkBoxes(data, ps, pe) { (ct, cps, cpe) =>
            if (ct == "mvhd" && cpe - cps >= 20) {
              val v = data(cps.toInt) & 0xFF
              if (v == 1 && cpe - cps >= 32) {
                val ts = u32be(data, cps + 20); val dur = u64be(data, cps + 24)
                if (ts > 0) durationMs = math.round(dur * 1000.0 / ts)
              } else if (v == 0) {
                val ts = u32be(data, cps + 12); val dur = u32be(data, cps + 16)
                if (ts > 0) durationMs = math.round(dur * 1000.0 / ts)
              }
            } else if (ct == "trak") {
              nTracks += 1
              walkBoxes(data, cps, cpe) { (tt, tps, tpe) =>
                if (tt == "tkhd") {
                  val v = data(tps.toInt) & 0xFF
                  val wOff = if (v == 1) 88L else 76L // fixed tkhd layout
                  if (tpe - tps >= wOff + 8) {
                    val tw = (u32be(data, tps + wOff) >> 16).toInt
                    val th = (u32be(data, tps + wOff + 4) >> 16).toInt
                    if (tw > 0 && th > 0) { w = math.max(w, tw); h = math.max(h, th) }
                  }
                }
              }
            }
          }
          if (!okMoov) return None
        }
      }
      if (ok && durationMs >= 0 && w > 0 && h > 0 && nTracks > 0)
        Some(VideoHeader(0L, "mp4", w, h, durationMs, nTracks))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Parse an EBML element id at `i`: raw value INCLUDING the length
    * marker (the class-id form Matroska specs list), plus its byte
    * length. None on truncation or a >4-byte id. */
  private def ebmlId(d: Array[Byte], i: Long): Option[(Long, Int)] = {
    if (i >= d.length) return None
    val b0 = d(i.toInt) & 0xFF
    val len =
      if ((b0 & 0x80) != 0) 1 else if ((b0 & 0x40) != 0) 2
      else if ((b0 & 0x20) != 0) 3 else if ((b0 & 0x10) != 0) 4 else return None
    if (i + len > d.length) return None
    var v = 0L; var k = 0
    while (k < len) { v = (v << 8) | (d((i + k).toInt) & 0xFF); k += 1 }
    Some((v, len))
  }

  /** Parse an EBML size varint at `i`: (-1, len) for the all-ones
    * "unknown size" form, else (value, len). */
  private def ebmlSize(d: Array[Byte], i: Long): Option[(Long, Int)] = {
    if (i >= d.length) return None
    val b0 = d(i.toInt) & 0xFF
    var len = 1; var mask = 0x80
    while (len <= 8 && (b0 & mask) == 0) { len += 1; mask >>= 1 }
    if (len > 8 || i + len > d.length) return None
    var v = (b0 & (mask - 1)).toLong
    var k = 1
    while (k < len) { v = (v << 8) | (d((i + k).toInt) & 0xFF); k += 1 }
    val unknown = v == (1L << (7 * len)) - 1
    Some((if (unknown) -1L else v, len))
  }

  /** Walk EBML child elements in `data[from, until)`. An unknown-size
    * element consumes the rest of the scope (legal for Segment in
    * streamed muxers). Long arithmetic throughout; false on malformed.
    */
  private def walkEbml(data: Array[Byte], from: Long, until: Long)(
      f: (Long, Long, Long) => Unit): Boolean = {
    var i = from
    var done = false
    while (!done && i < until) {
      ebmlId(data, i) match {
        case None => return false
        case Some((id, il)) =>
          ebmlSize(data, i + il) match {
            case None => return false
            case Some((sz, sl)) =>
              val ps = i + il + sl
              val pe = if (sz < 0) until else ps + sz
              if (pe < ps || pe > until) return false
              f(id, ps, pe)
              if (sz < 0) done = true // unknown size: rest of scope consumed
              else i = pe
          }
      }
    }
    true
  }

  private def ebmlUintAt(d: Array[Byte], ps: Long, pe: Long): Long = {
    var v = 0L; var i = ps
    while (i < pe) { v = (v << 8) | (d(i.toInt) & 0xFF); i += 1 }
    v
  }

  /** MKV / EBML header sniff: `Info/TimestampScale` (default 10⁶ ns)
    * and `Info/Duration` (float32/float64, in scale ticks) give
    * duration; `Tracks/TrackEntry/Video/PixelWidth|PixelHeight` give
    * dimensions; track count = TrackEntry count (audio entries carry no
    * Video element and contribute only to the count). Void/CRC and any
    * unknown elements are skipped by their declared size.
    */
  def sniffMkv(data: Array[Byte]): Option[VideoHeader] = {
    try {
      if (data.length < 8) return None
      if (ebmlId(data, 0L) match {
            case Some((id, _)) => id != 0x1A45DFA3L
            case None => true
          }) return None
      var scale = 1000000L            // ns per tick, Matroska default
      var durTicks = -1.0
      var w = 0; var h = 0; var nTracks = 0
      val ok = walkEbml(data, 0, data.length) { (id, ps, pe) =>
        if (id == 0x18538067L) {      // Segment
          walkEbml(data, ps, pe) { (sid, sps, spe) =>
            if (sid == 0x1549A966L) { // Info
              walkEbml(data, sps, spe) { (iid, ips, ipe) =>
                if (iid == 0x2AD7B1L) scale = ebmlUintAt(data, ips, ipe)
                else if (iid == 0x4489L) {
                  val n = ipe - ips
                  if (n == 8) durTicks = java.lang.Double
                    .longBitsToDouble(u64be(data, ips))
                  else if (n == 4) durTicks = java.lang.Float
                    .intBitsToFloat(u32be(data, ips).toInt).toDouble
                }
              }
            } else if (sid == 0x1654AE6BL) { // Tracks
              walkEbml(data, sps, spe) { (tid, tps, tpe) =>
                if (tid == 0xAEL) {          // TrackEntry
                  nTracks += 1
                  walkEbml(data, tps, tpe) { (eid, eps, epe) =>
                    if (eid == 0xE0L) {      // Video
                      walkEbml(data, eps, epe) { (vid, vps, vpe) =>
                        if (vid == 0xB0L)
                          w = math.max(w, ebmlUintAt(data, vps, vpe).toInt)
                        else if (vid == 0xBAL)
                          h = math.max(h, ebmlUintAt(data, vps, vpe).toInt)
                      }
                    }
                  }
                }
              }
            }
          }
        }
      }
      if (ok && durTicks >= 0 && scale > 0 && w > 0 && h > 0 && nTracks > 0)
        Some(VideoHeader(0L, "mkv", w, h,
          math.round(durTicks * scale / 1e6), nTracks))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Container dispatch for the video leg: `ftyp` ⇒ MP4/ISO-BMFF,
    * EBML magic ⇒ MKV, anything else drops. */
  def sniffVideo(data: Array[Byte]): Option[VideoHeader] =
    if (data.length >= 8 && new String(data, 4, 4, "US-ASCII") == "ftyp")
      sniffMp4(data)
    else if (data.length >= 4 && (data(0) & 0xFF) == 0x1A &&
        (data(1) & 0xFF) == 0x45 && (data(2) & 0xFF) == 0xDF &&
        (data(3) & 0xFF) == 0xA3)
      sniffMkv(data)
    else None

  /** Header-sniff a video media table — the [[imageHeaders]] stage shape
    * with [[sniffVideo]] as the kernel; undecodable rows drop. */
  def videoHeaders(media: DataFrame, targetPartitions: Int = 0): Dataset[VideoHeader] =
    perPayload(media, targetPartitions)((id, data) =>
      sniffVideo(data).map(_.copy(media_id = id)))

  // deterministic synthetic containers: closed-form fields of the id so
  // the generate→mux→sniff roundtrip is oracle-checkable (the m6/m7
  // pattern), while the bytes still pass through real box/EBML layouts

  private def be32a(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64a(v: Long): Array[Byte] = be32a(v >>> 32) ++ be32a(v)
  private def box(tp: String, payload: Array[Byte],
                  large: Boolean = false): Array[Byte] =
    if (large) be32a(1) ++ tp.getBytes("US-ASCII") ++
      be64a(16L + payload.length) ++ payload
    else be32a(8L + payload.length) ++ tp.getBytes("US-ASCII") ++ payload

  private val unityMatrix: Array[Byte] =
    be32a(0x00010000L) ++ be32a(0) ++ be32a(0) ++
    be32a(0) ++ be32a(0x00010000L) ++ be32a(0) ++
    be32a(0) ++ be32a(0) ++ be32a(0x40000000L)

  private def mvhdPayload(durMs: Long, v1: Boolean, nextTrack: Int): Array[Byte] = {
    val times =
      if (v1) be64a(0) ++ be64a(0) ++ be32a(1000) ++ be64a(durMs)
      else be32a(0) ++ be32a(0) ++ be32a(1000) ++ be32a(durMs)
    Array[Byte](if (v1) 1 else 0, 0, 0, 0) ++ times ++
      be32a(0x00010000L) ++ Array[Byte](0x01, 0x00) ++ // rate, volume
      Array.fill[Byte](2 + 8)(0) ++ unityMatrix ++
      Array.fill[Byte](24)(0) ++ be32a(nextTrack.toLong)
  }

  private def tkhdPayload(trackId: Int, w: Int, h: Int, durMs: Long,
                          v1: Boolean): Array[Byte] = {
    val times =
      if (v1) be64a(0) ++ be64a(0) ++ be32a(trackId.toLong) ++ be32a(0) ++ be64a(durMs)
      else be32a(0) ++ be32a(0) ++ be32a(trackId.toLong) ++ be32a(0) ++ be32a(durMs)
    Array[Byte](if (v1) 1 else 0, 0, 0, 7) ++ times ++
      Array.fill[Byte](8)(0) ++                      // reserved
      Array.fill[Byte](2 + 2 + 2 + 2)(0) ++          // layer/alt/volume/reserved
      unityMatrix ++
      be32a(w.toLong << 16) ++ be32a(h.toLong << 16) // 16.16 fixed
  }

  /** Deterministic MP4 bytes: duration `1000 + id % 100000` ms (timescale
    * 1000), `(160 + id % 1280) × (120 + id % 720)`, a second (audio,
    * 0×0-tkhd) track when `id % 3 == 0`. Every 5th id muxes version-1
    * (64-bit time) mvhd/tkhd and a largesize mdat, so both box layouts
    * stay exercised by the corpus itself. `free` boxes at top level and
    * inside moov exercise unknown-box skip. */
  def syntheticMp4Bytes(id: Long): Array[Byte] = {
    val durMs = 1000 + id % 100000
    val (w, h) = ((160 + id % 1280).toInt, (120 + id % 720).toInt)
    val v1 = id % 5 == 0
    val twoTracks = id % 3 == 0
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32a(0) ++
      "isom".getBytes("US-ASCII") ++ "mp42".getBytes("US-ASCII"))
    val free = box("free", Array.fill[Byte](4)(0))
    val vtrak = box("trak", box("tkhd", tkhdPayload(1, w, h, durMs, v1)))
    val atrak =
      if (twoTracks) box("trak", box("tkhd", tkhdPayload(2, 0, 0, durMs, v1)))
      else Array.emptyByteArray
    val moov = box("moov",
      box("mvhd", mvhdPayload(durMs, v1, if (twoTracks) 3 else 2)) ++
        free ++ vtrak ++ atrak)
    val mdat = box("mdat", Array.fill[Byte](8)(0x42), large = v1)
    ftyp ++ free ++ moov ++ mdat
  }

  private def ebmlIdBytes(id: Long): Array[Byte] = {
    var n = 8
    while (n > 1 && (id >>> ((n - 1) * 8)) == 0) n -= 1
    (0 until n).map(k => ((id >>> ((n - 1 - k) * 8)) & 0xFF).toByte).toArray
  }
  private def ebmlSizeBytes(n: Long): Array[Byte] =
    if (n < 0x7F) Array((0x80L | n).toByte)
    else if (n < 0x3FFF) Array((0x40L | (n >> 8)).toByte, (n & 0xFF).toByte)
    else if (n < 0x1FFFFF) Array((0x20L | (n >> 16)).toByte,
      ((n >> 8) & 0xFF).toByte, (n & 0xFF).toByte)
    else Array((0x10L | (n >> 24)).toByte, ((n >> 16) & 0xFF).toByte,
      ((n >> 8) & 0xFF).toByte, (n & 0xFF).toByte)
  private def ebmlEl(id: Long, payload: Array[Byte]): Array[Byte] =
    ebmlIdBytes(id) ++ ebmlSizeBytes(payload.length.toLong) ++ payload
  private def ebmlUintBytes(v: Long): Array[Byte] = {
    var n = 8
    while (n > 1 && (v >>> ((n - 1) * 8)) == 0) n -= 1
    (0 until n).map(k => ((v >>> ((n - 1 - k) * 8)) & 0xFF).toByte).toArray
  }

  /** Deterministic MKV bytes with the same closed-form fields as
    * [[syntheticMp4Bytes]]: TimestampScale 10⁶ ns (1 tick = 1 ms),
    * Duration as float64 ticks, Video PixelWidth/PixelHeight, a second
    * (audio) TrackEntry when `id % 3 == 0`, and a Void element inside
    * Segment exercising unknown-element skip. */
  def syntheticMkvBytes(id: Long): Array[Byte] = {
    val durMs = 1000 + id % 100000
    val (w, h) = ((160 + id % 1280).toInt, (120 + id % 720).toInt)
    val ebml = ebmlEl(0x1A45DFA3L,
      ebmlEl(0x4282L, "matroska".getBytes("US-ASCII")))
    val info = ebmlEl(0x1549A966L,
      ebmlEl(0x2AD7B1L, ebmlUintBytes(1000000L)) ++
        ebmlEl(0x4489L, be64a(java.lang.Double.doubleToLongBits(durMs.toDouble))))
    val videoTe = ebmlEl(0xAEL,
      ebmlEl(0x83L, ebmlUintBytes(1L)) ++
        ebmlEl(0xE0L,
          ebmlEl(0xB0L, ebmlUintBytes(w.toLong)) ++
            ebmlEl(0xBAL, ebmlUintBytes(h.toLong))))
    val audioTe =
      if (id % 3 == 0) ebmlEl(0xAEL, ebmlEl(0x83L, ebmlUintBytes(2L)))
      else Array.emptyByteArray
    val void = ebmlEl(0xECL, Array.fill[Byte](6)(0))
    val segment = ebmlEl(0x18538067L,
      info ++ void ++ ebmlEl(0x1654AE6BL, videoTe ++ audioTe))
    ebml ++ segment
  }
}
