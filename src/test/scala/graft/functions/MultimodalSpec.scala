package graft.functions

import graft.SparkSpec
import graft.sources.tiff.TiffIO

/** Multimodal plumbing tests: real TIFF encode/decode through the typed
  * Dataset transforms, nearest-neighbour resize geometry, and the
  * deterministic stub decoders.
  */
class MultimodalSpec extends SparkSpec {

  private def media(rows: (Long, Array[Int], Int, Int)*) = {
    import spark.implicits._
    spark.createDataset(rows.map { case (id, px, w, h) =>
      Multimodal.MediaRow(id, "image/tiff", TiffIO.encode(w, h, px, 8))
    })
  }

  test("imageFeatures decodes real TIFF bytes and computes intensities") {
    val px = Array.tabulate(8 * 8)(i => i * 4) // 0..252
    val f = Multimodal.imageFeatures(media((7L, px, 8, 8))).collect()
    assert(f.length == 1)
    assert(f(0) == Multimodal.ImageFeatures(7L, 8, 8, px.sum / 64.0, 0, 252))
  }

  test("resize nearest-neighbour picks the exact source pixels") {
    val px = Array.tabulate(8 * 8)(i => i) // value == index
    val resized = Multimodal.resizeImages(media((1L, px, 8, 8)), 4, 4).collect()
    val out = TiffIO.decode(resized(0).bytes)
    assert(out.width == 4 && out.height == 4)
    // target (x,y) -> source (2x, 2y) -> value 2x + 16y
    val expected = for (y <- 0 until 4; x <- 0 until 4) yield 2 * x + 16 * y
    assert(out.pixels.toSeq == expected)
  }

  test("audio stub rms is deterministic on byte payloads") {
    import spark.implicits._
    val m = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "audio/pcm-stub", Array[Byte](3, -4))))
    val f = Multimodal.audioFeatures(m).collect()(0)
    assert(f.n_samples == 2)
    assert(math.abs(f.rms - math.sqrt((9.0 + 16.0) / 2)) < 1e-12)
  }

  test("frame sampling windows and strides correctly") {
    import spark.implicits._
    val bytes = Array.tabulate[Byte](300)(_.toByte)
    val m = spark.createDataset(Seq(
      Multimodal.MediaRow(5L, "video/stub", bytes)))
    val frames = Multimodal.sampleFrames(m, frameBytes = 100, every = 2).collect()
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames.forall(_.id == 5L))
  }

  test("WAV PCM16 encode/decode round-trips samples and sample rate") {
    val smp = Array[Short](0, 1, -1, 32767, -32768, 12345)
    val (rate, back) = Multimodal.decodeWav(Multimodal.encodeWav(smp, 44100))
    assert(rate == 44100)
    assert(back.toSeq == smp.toSeq)
  }

  test("decodeWav skips unknown RIFF chunks (odd sizes padded)") {
    val wav = Multimodal.encodeWav(Array[Short](7, -7), 8000)
    // splice a 3-byte LIST chunk (odd size -> 1 pad byte) before fmt
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = wav.take(12) ++ extra ++ wav.drop(12)
    // RIFF size field is ignored by the parser; only magic must hold
    val (rate, back) = Multimodal.decodeWav(spliced)
    assert(rate == 8000 && back.toSeq == Seq[Short](7, -7))
  }

  test("decodeWav accepts a final odd-sized chunk whose pad byte is omitted") {
    val wav = Multimodal.encodeWav(Array[Short](9, -9), 8000)
    // append a 3-byte LIST chunk at EOF with NO pad byte — common in the
    // wild; the parser stops at data, trailing bytes must not disturb it
    val trailing = wav ++ "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3)
    val (rate, back) = Multimodal.decodeWav(trailing)
    assert(rate == 8000 && back.toSeq == Seq[Short](9, -9))
    // a pad-omitted odd chunk BEFORE any data chunk: the clamped skip must
    // surface the structured 'no data chunk' error, not a raw ByteBuffer
    // position exception
    val noData = wav.take(36) ++ "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3)
    val e = intercept[IllegalArgumentException](Multimodal.decodeWav(noData))
    assert(e.getMessage.contains("malformed WAV"), e.getMessage)
  }

  test("decodeWav fails loudly on malformed or unsupported headers") {
    val good = Multimodal.encodeWav(Array[Short](1, 2, 3), 16000)
    def boom(bytes: Array[Byte], msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Multimodal.decodeWav(bytes))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    boom(Array[Byte](1, 2, 3), "only 3 bytes")
    boom("JUNK".getBytes ++ good.drop(4), "missing RIFF magic")
    boom(good.take(8) ++ "AVI ".getBytes ++ good.drop(12), "missing WAVE")
    boom(good.take(44), "declares") // data chunk truncated
    val stereo = good.clone(); stereo(22) = 2 // channel count field
    boom(stereo, "channel count 2")
    val alaw = good.clone(); alaw(20) = 6 // G.711 now accepted, but only 8-bit
    boom(alaw, "bit depth 16 for G.711 format 6")
    val adpcm = good.clone(); adpcm(20) = 2 // audio format field
    boom(adpcm, "unsupported audio format 2")
    val wide = good.clone(); wide(34) = 24 // bits per sample field
    boom(wide, "bit depth 24")
  }

  test("G.711 u-law/A-law expansion matches the JDK's independent codec") {
    import javax.sound.sampled._
    val codes = Array.tabulate(256)(_.toByte) // every code point once
    for (uLaw <- Seq(true, false)) {
      val enc = if (uLaw) AudioFormat.Encoding.ULAW else AudioFormat.Encoding.ALAW
      val src = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val dst = new AudioFormat(8000f, 16, 1, true, false) // PCM16 LE
      val ais = AudioSystem.getAudioInputStream(dst,
        new AudioInputStream(
          new java.io.ByteArrayInputStream(codes), src, codes.length))
      val pcm = ais.readAllBytes()
      assert(pcm.length == 512, s"JDK emitted ${pcm.length} bytes")
      val table = if (uLaw) Multimodal.UlawTable else Multimodal.AlawTable
      for (i <- 0 until 256) {
        val want = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
        assert(table(i) == want,
          s"${if (uLaw) "u" else "A"}-law code $i: table ${table(i)}, JDK $want")
      }
    }
  }

  test("G.711 WAV round trip: container walk + expansion, odd-size pad") {
    val codes = Array[Byte](0, 1, 127, -128, -1, 85, -86) // 7 bytes (odd)
    for (uLaw <- Seq(true, false)) {
      val bytes = Multimodal.encodeWavG711(codes, uLaw, 8000)
      val (rate, smp) = Multimodal.decodeWav(bytes)
      assert(rate == 8000 && smp.length == 7)
      val table = if (uLaw) Multimodal.UlawTable else Multimodal.AlawTable
      assert(smp.toSeq == codes.toSeq.map(c => table(c & 0xff)))
    }
  }

  test("embeddingsAsWav quantization matches the oracle formula") {
    import spark.implicits._
    val df = Seq((3L, Array(-1.0f, 0.0f, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    val m = Multimodal.embeddingsAsWav(df).collect()(0)
    assert(m.media_type == "audio/wav")
    val (rate, smp) = Multimodal.decodeWav(m.bytes)
    assert(rate == 16000)
    assert(smp.toSeq == Seq[Short](-32767, 0, 32767, 16383))
    val f = Multimodal.wavFeatures(
      spark.createDataset(Seq(m))).collect()(0)
    assert(f.n_samples == 4 && f.peak == 32767)
  }

  test("y4m encode/decode round-trips frames, header tags parsed") {
    val frames = Seq(
      Array.tabulate(12)(i => i * 20),
      Array.tabulate(12)(i => 255 - i))
    val bytes = Multimodal.encodeY4m(4, 3, 25, frames)
    val (w, h, back) = Multimodal.decodeY4m(bytes)
    assert(w == 4 && h == 3 && back.size == 2)
    assert(back(0).toSeq == frames(0).toSeq && back(1).toSeq == frames(1).toSeq)
    // unknown stream-header tags must be skipped, FRAME parameters allowed
    val hdr = "YUV4MPEG2 W2 H1 F30:1 It A0:0 XCUSTOM Cmono\n" +
      "FRAME Xk\n\u0000\u0001"
    val (w2, h2, f2) = Multimodal.decodeY4m(hdr.getBytes("ISO-8859-1"))
    assert(w2 == 2 && h2 == 1 && f2.head.toSeq == Seq(0, 1))
  }

  test("decodeY4m fails loudly on malformed or unsupported streams") {
    def boom(s: String, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Multimodal.decodeY4m(s.getBytes("ISO-8859-1")))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    boom("YUV4MPEG2 W4 H4 Cmono", "no stream-header newline")
    boom("MPEG W4 H4 Cmono\n", "bad magic")
    boom("YUV4MPEG2 H4 Cmono\n", "missing W tag")
    boom("YUV4MPEG2 W4 H4\nFRAME\nxx", "unsupported chroma mode C420")
    boom("YUV4MPEG2 W2 H1 Cmono\nFRAME\n\u0000", "truncated frame payload")
    boom("YUV4MPEG2 W2 H1 Cmono\nGRAME\n\u0000\u0001", "bad frame marker")
  }

  test("embeddingsAsVideo emits 4 frames; sampler takes every 2nd") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (i / 63.0f) * 2 - 1) // ramp -1..1
    val df = Seq((9L, v)).toDF("vec_id", "embedding")
    val m = Multimodal.embeddingsAsVideo(df).collect()(0)
    assert(m.media_type == "video/y4m")
    val (w, h, frames) = Multimodal.decodeY4m(m.bytes)
    assert(w == 4 && h == 4 && frames.size == 4)
    val feats = Multimodal.videoFrameFeatures(
      spark.createDataset(Seq(m)), every = 2).collect().sortBy(_.frame_idx)
    assert(feats.map(_.frame_idx).toSeq == Seq(0, 2))
    // frame 0 pixels = quantization of dims 0..15
    val px0 = v.take(16).map(x =>
      math.max(0, math.min(255, math.floor((x + 1.0) * 127.5).toInt)))
    assert(feats(0).mean_luma == px0.sum.toDouble / 16)
  }

  test("embeddingsAsImages quantization matches the oracle formula") {
    import spark.implicits._
    val df = Seq((1L, Array(-1.0f, 0.0f, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    val m = Multimodal.embeddingsAsImages(df).collect()(0)
    val px = TiffIO.decode(m.bytes)
    assert(px.width == 2 && px.height == 2)
    assert(px.pixels.toSeq == Seq(0, 127, 255, 191))
  }

  test("q188 banded pHash blocking is LOSSLESS: equals brute-force " +
      "all-pairs hamming at sf0.001 (r16 wide bands)") {
    import org.apache.spark.sql.functions._
    val q = graft.Queries.byName("q188_phash_dedup")
      .build(spark, "/root/testdata/sf0.001")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    // brute force over the SAME injected corpus, via the same real path
    // (16×16 TIFF → 256-bit aHash in four 64-bit bands — the r16 default)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val exact = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val pert = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, lit(1.0f)).otherwise(x)).as("embedding"))
    val ph = Multimodal.imageAHashWide(Multimodal.embeddingsAsTiff16(
        e.unionAll(exact).unionAll(pert)), side = 16)
      .collect().map(p => (p.id, Seq(p.b0, p.b1, p.b2, p.b3)))
    val brute = (for {
      (ia, ba) <- ph; (ib, bb) <- ph if ia < ib
      ham = ba.zip(bb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) }.sum
      if ham <= 3
    } yield (ia, ib, ham)).toSet
    assert(brute.nonEmpty, "injected replays must produce live pairs")
    assert(got == brute,
      s"banded blocking lost pairs: got ${got.size} vs brute ${brute.size}")
    // the pigeonhole argument itself: any surviving pair shares a band
    val byId = ph.toMap
    got.foreach { case (a, b, _) =>
      assert(byId(a).zip(byId(b)).exists { case (x, y) => x == y },
        s"pair ($a,$b) shares no band — blocking argument violated")
    }
  }

  test("imagePHashCoded is format-independent: TIFF, PNG, and 64x64 " +
      "block-constant JPEG of the same image hash identically (r14)") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(20)
    def hashes(ds: org.apache.spark.sql.Dataset[Multimodal.ImagePHash]) =
      ds.collect().map(p => p.id -> ((p.h0, p.h1, p.h2, p.h3))).toMap
    val viaTiff = hashes(Multimodal.imagePHash(Multimodal.embeddingsAsImages(e)))
    val viaPng = hashes(Multimodal.imagePHashCoded(Multimodal.embeddingsAsPng(e)))
    val viaJpeg = hashes(Multimodal.imagePHashCoded(Multimodal.embeddingsAsJpeg(e)))
    assert(viaTiff.nonEmpty && viaTiff == viaPng,
      "PNG path diverges from the TIFF aHash")
    assert(viaTiff == viaJpeg,
      "JPEG path diverges — the 64x64 nearest-reduction must recover the " +
        "block constants exactly")
    // unsupported media type is loud, not a silent skip
    import spark.implicits._
    val bad = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image/bmp", Array[Byte](1, 2, 3))))
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.imagePHashCoded(bad).collect()
    }
    assert(err.getMessage.contains("unsupported media_type") ||
      String.valueOf(err.getCause).contains("unsupported media_type"))
  }

  test("audioFingerprint is gain-invariant: a clip re-levelled by an " +
      "exact monotone gain fingerprints identically (r14)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)((rng.nextInt(2000) - 1000).toShort)
    val doubled = base.map(s => (s * 2).toShort) // exact, no clipping
    val shifted = base.map(s => (s + 100).toShort) // monotone offset
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "audio/wav", Multimodal.encodeWav(base, 16000)),
      Multimodal.MediaRow(2L, "audio/wav", Multimodal.encodeWav(doubled, 16000)),
      Multimodal.MediaRow(3L, "audio/wav", Multimodal.encodeWav(shifted, 16000))))
    val fps = Multimodal.audioFingerprint(media).collect()
      .map(f => f.id -> ((f.h0, f.h1, f.h2, f.h3))).toMap
    assert(fps(1L) == fps(2L), "2x gain changed the delta-sign fingerprint")
    assert(fps(1L) == fps(3L), "+100 offset changed the fingerprint")
    // a genuinely different clip does NOT collide
    val other = Array.fill(64)((rng.nextInt(2000) - 1000).toShort)
    val fpOther = Multimodal.audioFingerprint(spark.createDataset(Seq(
        Multimodal.MediaRow(4L, "audio/wav", Multimodal.encodeWav(other, 16000)))))
      .collect().head
    assert(fps(1L) != ((fpOther.h0, fpOther.h1, fpOther.h2, fpOther.h3)))
    // wrong sample count is loud
    val bad = spark.createDataset(Seq(Multimodal.MediaRow(5L, "audio/wav",
      Multimodal.encodeWav(Array.fill(32)(1.toShort), 16000))))
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprint(bad).collect()
    }
    assert(err.getMessage.contains("expects 64 samples") ||
      String.valueOf(err.getCause).contains("expects 64 samples"))
  }

  test("audioFingerprintWide(nBits = 64) handles arbitrary clip lengths, is " +
      "positive-gain-invariant, and refuses sub-64 clips (r14)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 640 samples -> 64 windows of 10; doubling gain scales every window
    // energy linearly so the delta signs (and the fingerprint) hold
    val clip = Array.fill(640)((rng.nextInt(4000) - 2000).toShort)
    val doubled = clip.map(s => (s * 2).toShort)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "audio/wav", Multimodal.encodeWav(clip, 16000)),
      Multimodal.MediaRow(2L, "audio/wav", Multimodal.encodeWav(doubled, 16000))))
    val fps = Multimodal.audioFingerprintWide(media, nBits = 64).collect()
      .map(f => f.id -> ((f.b0, f.b1, f.b2, f.b3))).toMap
    assert(fps(1L) == fps(2L), "2x gain changed the windowed fingerprint")
    // a different clip of the same length does not collide
    val other = Array.fill(640)((rng.nextInt(4000) - 2000).toShort)
    val fpOther = Multimodal.audioFingerprintWide(spark.createDataset(Seq(
        Multimodal.MediaRow(3L, "audio/wav",
          Multimodal.encodeWav(other, 16000)))), nBits = 64).collect().head
    assert(fps(1L) != ((fpOther.b0, fpOther.b1, fpOther.b2, fpOther.b3)))
    // a 64-sample clip degrades to per-sample |energies| (the production
    // face of the fixed-64 contract), and sub-64 clips are loud
    val exact64 = Array.fill(64)((rng.nextInt(4000) - 2000).toShort)
    assert(Multimodal.audioFingerprintWide(spark.createDataset(Seq(
      Multimodal.MediaRow(4L, "audio/wav",
        Multimodal.encodeWav(exact64, 16000)))), nBits = 64).collect().length == 1)
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprintWide(spark.createDataset(Seq(
        Multimodal.MediaRow(5L, "audio/wav",
          Multimodal.encodeWav(Array.fill(10)(1.toShort), 16000)))), nBits = 64)
        .collect()
    }
    assert(err.getMessage.contains(">= 64 samples") ||
      String.valueOf(err.getCause).contains(">= 64 samples"))
  }

  test("widen-bands lever: wide fingerprints keep exact copies at " +
      "hamming 0 and carry strictly more band entropy (r15)") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    // three distinct 256-sample clips + one exact copy of the first
    val clips = Seq.tabulate(3)(_ =>
      Array.fill(256)((rng.nextInt(8000) - 4000).toShort))
    val media = spark.createDataset(
      clips.zipWithIndex.map { case (c, i) =>
        Multimodal.MediaRow(i.toLong, "audio/wav",
          Multimodal.encodeWav(c, 8000))
      } :+ Multimodal.MediaRow(100L, "audio/wav",
        Multimodal.encodeWav(clips.head, 8000)))
    val wide = Multimodal.audioFingerprintWide(media, nBits = 256)
      .collect().map(f => f.id -> ((f.b0, f.b1, f.b2, f.b3))).toMap
    assert(wide(0L) == wide(100L), "exact copy must fingerprint identically")
    assert(wide(0L) != wide(1L) && wide(1L) != wide(2L))
    // gain invariance carries to the wide face
    val gained = Multimodal.audioFingerprintWide(spark.createDataset(Seq(
      Multimodal.MediaRow(7L, "audio/wav", Multimodal.encodeWav(
        clips.head.map(s => (s * 3).toShort), 8000)))), nBits = 256)
      .collect().head
    assert(wide(0L) == ((gained.b0, gained.b1, gained.b2, gained.b3)),
      "3x gain changed the wide fingerprint")
    // image face: exact copies collide, distinct images don't, and the
    // wide hash refuses rasters smaller than its grid
    val img = Array.tabulate(256)(i => (i * 37 + 11) % 256)
    val img2 = img.map(v => 255 - v)
    val pngs = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image/png", graft.functions.ImageCodecs
        .encodePng(graft.functions.ImageCodecs.Raster(16, 16, 1, img))),
      Multimodal.MediaRow(2L, "image/png", graft.functions.ImageCodecs
        .encodePng(graft.functions.ImageCodecs.Raster(16, 16, 1, img))),
      Multimodal.MediaRow(3L, "image/png", graft.functions.ImageCodecs
        .encodePng(graft.functions.ImageCodecs.Raster(16, 16, 1, img2)))))
    val ih = Multimodal.imageAHashWide(pngs, side = 16)
      .collect().map(f => f.id -> ((f.b0, f.b1, f.b2, f.b3))).toMap
    assert(ih(1L) == ih(2L) && ih(1L) != ih(3L))
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.imageAHashWide(spark.createDataset(Seq(
        Multimodal.MediaRow(9L, "image/png", graft.functions.ImageCodecs
          .encodePng(graft.functions.ImageCodecs.Raster(8, 8, 1,
            Array.fill(64)(5)))))), side = 16).collect()
    }
    assert(String.valueOf(err.getCause).contains("needs >= 16x16"))
  }

  test("q205 detects cross-format duplicates: every injected opposite-" +
      "format copy surfaces at hamming 0 with cross_format=1") {
    val rows = graft.Queries.byName("q205_phash_crossformat_dedup")
      .build(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val exactCopies = rows.filter { case (a, b, _, _) => b == a + 100000L }
    assert(exactCopies.length == 10, s"expected the 10 injected copies, " +
      s"got ${exactCopies.length}")
    exactCopies.foreach { case (a, b, ham, cf) =>
      assert(ham == 0, s"copy pair ($a,$b) at hamming $ham")
      assert(cf == 1, s"copy pair ($a,$b) not flagged cross-format — the " +
        "injection stores every copy in the opposite container")
    }
  }
}
