package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}

/** The header sniffer (m6) against GROUND TRUTH — real encoder output
  * whose dimensions are known because we chose them:
  *
  *   · for every format ImageIO can write (png/jpeg/gif/bmp), sniffing
  *     the encoded bytes returns that format and the encoded dimensions;
  *   · on a sample of payloads the sniffer agrees with a FULL ImageIO
  *     decode — header truth equals pixel truth;
  *   · JPEG dimensions survive leading APPn metadata segments (the
  *     marker walk, not a fixed offset, finds SOF);
  *   · corrupt, truncated, empty, and non-image payloads return None
  *     (drop, never throw — the shared 100 TB decode-stage contract);
  *   · the distributed stage drops undecodable rows and keeps ids.
  */
class MultimodalHeaderSpec extends SparkSpec {

  import spark.implicits._

  private def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    g2.setColor(new java.awt.Color(0x4A90D9))
    g2.fillRect(0, 0, w, h)
    g2.dispose()
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    assert(javax.imageio.ImageIO.write(img, fmt, buf), s"ImageIO lacks $fmt")
    buf.toByteArray
  }

  test("every ImageIO-writable format sniffs to its encoded dimensions") {
    for {
      fmt <- Seq("png", "jpeg", "gif", "bmp")
      (w, h) <- Seq((1, 1), (16, 16), (640, 480), (123, 7))
    } {
      val got = Multimodal.sniffDimensions(encode(fmt, w, h))
      assert(got.map(m => (m.fmt, m.width, m.height)) === Some((fmt, w, h)),
        s"fmt=$fmt w=$w h=$h got=$got")
    }
  }

  test("sniffed dimensions equal full-decode dimensions on synthetic payloads") {
    (0L until 40L).foreach { id =>
      val data = Multimodal.syntheticImageBytes(id)
      val sniffed = Multimodal.sniffDimensions(data).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
      assert((sniffed.width, sniffed.height) === (img.getWidth, img.getHeight))
      assert(sniffed.fmt === (if (id % 2 == 0) "png" else "jpeg"))
    }
  }

  test("JPEG sniff survives an injected APP1 (EXIF-style) segment") {
    val base = encode("jpeg", 200, 100)
    // splice APP1 right after SOI: FF E1 <len> "Exif\0\0" + padding
    val payload = "Exif".getBytes("US-ASCII") ++ Array.fill[Byte](30)(0)
    val len = payload.length + 2
    val app1 = Array[Byte](0xFF.toByte, 0xE1.toByte,
      ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte) ++ payload
    val spliced = base.take(2) ++ app1 ++ base.drop(2)
    val got = Multimodal.sniffDimensions(spliced)
    assert(got.map(m => (m.fmt, m.width, m.height)) === Some(("jpeg", 200, 100)))
  }

  test("corrupt / truncated / empty / non-image payloads drop as None") {
    val png = encode("png", 32, 32)
    val jpg = encode("jpeg", 32, 32)
    assert(Multimodal.sniffDimensions(Array.emptyByteArray).isEmpty)
    assert(Multimodal.sniffDimensions("plain text, not an image".getBytes).isEmpty)
    assert(Multimodal.sniffDimensions(png.take(20)).isEmpty)   // mid-IHDR cut
    assert(Multimodal.sniffDimensions(jpg.take(4)).isEmpty)    // SOI only
    val desynced = jpg.clone(); desynced(2) = 0x00 // marker walk desyncs
    assert(Multimodal.sniffDimensions(desynced).isEmpty)
  }

  test("WAV sniff returns the encoded rate/channels/bits and DERIVED sample count") {
    for (n <- Seq(1, 1000, 3999)) {
      val wav = Multimodal.syntheticToneWav(440.0, n, 8000, 0.5)
      val got = Multimodal.sniffWav(wav)
      assert(got.map(h => (h.n_channels, h.sample_rate, h.bits, h.n_samples))
        === Some((1, 8000, 16, n.toLong)), s"n=$n got=$got")
      // header truth equals decode truth
      val dec = Multimodal.decodeAudio(wav).get
      assert(got.get.n_samples === dec.n_samples)
      assert(got.get.sample_rate === dec.sample_rate)
    }
  }

  test("WAV sniff drops corrupt / truncated / non-PCM payloads as None") {
    val wav = Multimodal.syntheticToneWav(440.0, 500, 8000, 0.5)
    assert(Multimodal.sniffWav(Array.emptyByteArray).isEmpty)
    assert(Multimodal.sniffWav(wav.take(30)).isEmpty)       // mid-fmt cut
    assert(Multimodal.sniffWav("RIFFxxxxJUNK".getBytes).isEmpty)
    val nonPcm = wav.clone()
    // fmt chunk starts at 12; audioFormat field at +8 — flip PCM(1) to 7
    nonPcm(20) = 7
    assert(Multimodal.sniffWav(nonPcm).isEmpty)
  }

  test("WAV sniff terminates (no hang) on near-0xFFFFFFFF chunk sizes") {
    // r8 advice (Multimodal sniffWav): an unknown chunk declaring size
    // 0xFFFFFFF8 (or F7) made the Int-arithmetic advance step 0/negative
    // — a 32-byte crafted payload hung the executor thread forever. The
    // walk must stay in Long and treat a chunk running past the payload
    // as end-of-walk. A timed wrapper would be flaky; the Long-advance
    // guarantees next > i, so plain calls suffice — they'd hang the
    // suite if the bug returned.
    def riff(chunks: (String, Long, Int)*): Array[Byte] = {
      val body = chunks.flatMap { case (id, declared, actual) =>
        id.getBytes("US-ASCII") ++ Array(
          (declared & 0xFF).toByte, ((declared >> 8) & 0xFF).toByte,
          ((declared >> 16) & 0xFF).toByte, ((declared >> 24) & 0xFF).toByte) ++
          Array.fill[Byte](actual)(0)
      }
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++ body
    }
    for (bad <- Seq(0xFFFFFFF7L, 0xFFFFFFF8L, 0xFFFFFFFFL, 0x80000000L)) {
      assert(Multimodal.sniffWav(riff(("LIST", bad, 12))).isEmpty)
      // also when the poisoned chunk precedes a valid-looking fmt tag in
      // the raw bytes — the walk must stop, not skip into it
      assert(Multimodal.sniffWav(riff(("junk", bad, 0), ("fmt ", 16L, 16))).isEmpty)
    }
    // zero-size unknown chunk is fine (advance = 8) and the walk continues
    val ok = Multimodal.syntheticToneWav(440.0, 100, 8000, 0.5)
    val withEmpty = ok.take(12) ++ "pad ".getBytes ++
      Array[Byte](0, 0, 0, 0) ++ ok.drop(12)
    assert(Multimodal.sniffWav(withEmpty).exists(_.n_samples == 100L))
  }

  test("WAV sniff clamps a lying data-chunk size to the bytes actually present") {
    // r9 advice (Multimodal sniffWav): the walk keeps a data chunk whose
    // DECLARED size overruns the payload (streamed writers legitimately
    // do this), but n_samples must come from bytes that EXIST — a corrupt
    // declared size like 0xFFFFF000 on a 500-sample payload previously
    // yielded a header claiming ~2 billion samples.
    val wav = Multimodal.syntheticToneWav(440.0, 500, 8000, 0.5)
    def withDataSize(sz: Long): Array[Byte] = {
      val out = wav.clone()
      // canonical synthetic layout: data chunk header at 36, size at 40
      assert(new String(out, 36, 4, "US-ASCII") == "data")
      out(40) = (sz & 0xFF).toByte; out(41) = ((sz >> 8) & 0xFF).toByte
      out(42) = ((sz >> 16) & 0xFF).toByte; out(43) = ((sz >> 24) & 0xFF).toByte
      out
    }
    // corrupt size → clamp to the 1000 payload bytes → 500 samples
    assert(Multimodal.sniffWav(withDataSize(0xFFFFF000L)).map(_.n_samples)
      === Some(500L))
    // streamed-writer overrun (declared = actual + 100) → same clamp
    assert(Multimodal.sniffWav(withDataSize(1100L)).map(_.n_samples)
      === Some(500L))
    // truthful size is untouched
    assert(Multimodal.sniffWav(withDataSize(1000L)).map(_.n_samples)
      === Some(500L))
  }

  test("WAV sniff clamps a lying data size to end-of-CHUNK, not end-of-file") {
    // r10 advice: the r9 clamp bounded n_samples at EOF — a corrupt
    // declared size on a file with TRAILING chunks after `data`
    // (LIST/INFO metadata) counted those bytes as PCM. The bound must
    // stop where a plausible trailing chunk chain begins.
    val wav = Multimodal.syntheticToneWav(440.0, 500, 8000, 0.5)
    assert(new String(wav, 36, 4, "US-ASCII") == "data")
    val trailing = "LIST".getBytes("US-ASCII") ++
      Array[Byte](12, 0, 0, 0) ++ "INFOIART".getBytes("US-ASCII") ++
      Array.fill[Byte](4)(7)
    val out = wav ++ trailing
    // corrupt the data declaration to overrun everything
    out(40) = 0x00.toByte; out(41) = 0xF0.toByte
    out(42) = 0xFF.toByte; out(43) = 0xFF.toByte
    // 500 samples (1000 payload bytes), NOT 510 (payload + 20 LIST bytes)
    assert(Multimodal.sniffWav(out).map(_.n_samples) === Some(500L),
      "trailing metadata must not count as PCM under a corrupt declaration")
    // a corrupt declaration with NO trailing chunks still clamps to EOF
    val bare = wav.clone()
    bare(40) = 0x00.toByte; bare(41) = 0xF0.toByte
    bare(42) = 0xFF.toByte; bare(43) = 0xFF.toByte
    assert(Multimodal.sniffWav(bare).map(_.n_samples) === Some(500L))
  }

  test("MP4 sniff returns muxed duration/dims/tracks for v0, v1 and two-track layouts") {
    // ids chosen to hit: v0 single-track (1→but odd... use evens), v0
    // two-track (6), v1 largesize (10), v1+two-track (30)
    for (id <- Seq(2L, 4L, 6L, 10L, 30L, 1234L)) {
      val got = Multimodal.sniffVideo(Multimodal.syntheticMp4Bytes(id))
      val expTracks = if (id % 3 == 0) 2 else 1
      assert(got.map(v => (v.fmt, v.width, v.height, v.duration_ms, v.n_tracks))
        === Some(("mp4", (160 + id % 1280).toInt, (120 + id % 720).toInt,
          1000 + id % 100000, expTracks)), s"id=$id got=$got")
    }
  }

  test("MKV sniff returns muxed duration/dims/tracks incl. the audio-entry case") {
    for (id <- Seq(1L, 3L, 5L, 9L, 4321L)) {
      val got = Multimodal.sniffVideo(Multimodal.syntheticMkvBytes(id))
      val expTracks = if (id % 3 == 0) 2 else 1
      assert(got.map(v => (v.fmt, v.width, v.height, v.duration_ms, v.n_tracks))
        === Some(("mkv", (160 + id % 1280).toInt, (120 + id % 720).toInt,
          1000 + id % 100000, expTracks)), s"id=$id got=$got")
    }
  }

  test("video sniff drops truncated / corrupt / non-video payloads, and terminates") {
    val mp4 = Multimodal.syntheticMp4Bytes(2L)
    val mkv = Multimodal.syntheticMkvBytes(1L)
    assert(Multimodal.sniffVideo(Array.emptyByteArray).isEmpty)
    assert(Multimodal.sniffVideo("not a container at all".getBytes).isEmpty)
    // truncation mid-moov / mid-segment drops (no partial answer)
    assert(Multimodal.sniffVideo(mp4.take(mp4.length / 2)).isEmpty)
    assert(Multimodal.sniffVideo(mkv.take(mkv.length / 2)).isEmpty)
    // a box declaring a size past the payload drops
    val oversized = mp4.clone()
    // ftyp is the first box: poison its u32 size to a huge value
    oversized(0) = 0x7F; oversized(1) = 0xFF.toByte
    assert(Multimodal.sniffVideo(oversized).isEmpty)
    // size==0 ("to end of file") on a leading non-moov box swallows moov
    val zeroSize = mp4.clone(); zeroSize(0) = 0; zeroSize(1) = 0
    zeroSize(2) = 0; zeroSize(3) = 0
    assert(Multimodal.sniffVideo(zeroSize).isEmpty)
    // WAV-hang lesson: near-0xFFFFFFFF sizes must terminate, not loop
    val wrap = mp4.clone()
    wrap(0) = 0xFF.toByte; wrap(1) = 0xFF.toByte
    wrap(2) = 0xFF.toByte; wrap(3) = 0xF8.toByte
    assert(Multimodal.sniffVideo(wrap).isEmpty)
  }

  test("video sniff skips unknown boxes/elements without losing the payload") {
    // syntheticMp4Bytes already interleaves `free` boxes (top level and
    // inside moov) and syntheticMkvBytes a Void element; additionally
    // prepend an unknown top-level box after ftyp
    val base = Multimodal.syntheticMp4Bytes(8L)
    val ftypLen = 24 // fixed mux layout
    val unknown = Array[Byte](0, 0, 0, 12) ++ "wide".getBytes ++
      Array.fill[Byte](4)(0x55)
    val withUnknown = base.take(ftypLen) ++ unknown ++ base.drop(ftypLen)
    assert(Multimodal.sniffVideo(withUnknown)
      === Multimodal.sniffVideo(base))
  }

  test("the distributed video stage keeps ids and drops undecodable rows") {
    val rows = Seq(
      (1L, Multimodal.syntheticMkvBytes(1L)),
      (2L, Multimodal.syntheticMp4Bytes(2L)),
      (3L, "garbage".getBytes): (Long, Array[Byte]))
    val got = Multimodal.videoHeaders(rows.toDF("media_id", "data"))
      .collect().map(v => (v.media_id, v.fmt)).sorted
    assert(got.toSeq === Seq((1L, "mkv"), (2L, "mp4")))
  }

  test("the distributed stage keeps ids and drops undecodable rows") {
    val rows = Seq(
      (1L, encode("png", 20, 10)),
      (2L, encode("jpeg", 8, 24)),
      (3L, "garbage".getBytes): (Long, Array[Byte]))
    val got = Multimodal.imageHeaders(rows.toDF("media_id", "data"))
      .collect().map(m => (m.media_id, m.fmt, m.width, m.height)).sorted
    assert(got.toSeq === Seq((1L, "png", 20, 10), (2L, "jpeg", 8, 24)))

    // every per-payload stage: two decodable payloads (ids 1, 2) and one
    // corrupt one (id 3), with and without the stage's own repartition
    val images = Seq(encode("png", 20, 10), encode("jpeg", 8, 24))
    val wavs = Seq(Multimodal.syntheticToneWav(440.0, 2000, 8000, 0.5),
      Multimodal.syntheticToneWav(1000.0, 1200, 8000, 0.3))
    val videos = Seq(Multimodal.syntheticMkvBytes(1L), Multimodal.syntheticMp4Bytes(2L))
    type Stage = (DataFrame, Int) => Dataset[_]
    val stages: Seq[(String, Seq[Array[Byte]], Stage, Set[Long])] = Seq(
      ("imageHeaders", images, Multimodal.imageHeaders(_, _), Set(1L, 2L)),
      ("wavHeaders", wavs, Multimodal.wavHeaders(_, _), Set(1L, 2L)),
      ("videoHeaders", videos, Multimodal.videoHeaders(_, _), Set(1L, 2L)),
      ("extractImageFeatures", images, Multimodal.extractImageFeatures(_, _), Set(1L, 2L)),
      ("imageDHashes", images, Multimodal.imageDHashes(_, _), Set(1L, 2L)),
      ("extractAudioFeatures", wavs, Multimodal.extractAudioFeatures(_, _), Set(1L, 2L)),
      ("audioSpectralFeatures", wavs,
        Multimodal.audioSpectralFeatures(_, Array(440.0, 1000.0), 200, _), Set(1L, 2L)),
      // frame sampling decodes nothing: a payload shorter than one frame
      // (the 7-byte corrupt one) emits no frame
      ("sampleFrames", images, Multimodal.sampleFrames(_, 16, 16, 4, _), Set(1L, 2L)),
      // the stub decodes nothing either, and keeps every row
      ("extractFeatures", images, Multimodal.extractFeatures(_, _), Set(1L, 2L, 3L)))
    for ((name, good, stage, want) <- stages; tp <- Seq(0, 2)) {
      val media = ((1L, good(0)) +: (2L, good(1)) +: Seq((3L, "garbage".getBytes)))
        .toDF("media_id", "data")
      val out = stage(media, tp).toDF()
      val ids = out.select("media_id").as[Long].collect()
      assert(ids.toSet === want, s"$name at targetPartitions=$tp")
      if (tp > 0) assert(out.rdd.getNumPartitions === tp, s"$name repartition")
    }
  }
}
