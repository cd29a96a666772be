package graft.operators

import graft.SparkTestBase

/** Plumbing checks for the multimodal column support (stub codec). */
class MultimodalSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")

  test("media table carries binary payloads with deterministic kinds") {
    val media = Multimodal.mediaFromDocuments(docs).collect()
    assert(media.length == docs.count())
    assert(media.forall(m => Set("image", "audio", "video")(m.kind)))
    assert(media.forall(_.payload.nonEmpty))
    // deterministic: same doc -> same kind on recompute
    val again = Multimodal.mediaFromDocuments(docs).collect()
    assert(media.map(m => m.media_id -> m.kind).toMap ==
      again.map(m => m.media_id -> m.kind).toMap)
  }

  test("binaryFile ingestion: raw files become typed media rows, payloads intact") {
    import java.nio.file.Files
    val dir = java.nio.file.Paths.get(tempDir("mediafiles"))
    val blobs = Map("a.jpg" -> Array[Byte](1, 2, 3, 4),
      "b.wav" -> Array[Byte](9, 8), "c.mp4" -> Array[Byte](5, 5, 5),
      "notes.txt" -> Array[Byte](7)) // unknown extension: dropped
    blobs.foreach { case (name, bytes) =>
      Files.write(dir.resolve(name), bytes)
    }
    val media = Multimodal.mediaFromFiles(
      Multimodal.readBinaryFiles(spark, dir.toString)).collect()
    assert(media.length == 3, "unknown extension should be dropped")
    assert(media.map(_.kind).sorted.toSeq == Seq("audio", "image", "video"))
    // payload bytes round-trip exactly
    val byKind = media.map(m => m.kind -> m.payload.toSeq).toMap
    assert(byKind("image") == Seq[Byte](1, 2, 3, 4))
    assert(byKind("audio") == Seq[Byte](9, 8))
    // stable ids across re-ingestion of the same paths
    val again = Multimodal.mediaFromFiles(
      Multimodal.readBinaryFiles(spark, dir.toString)).collect()
    assert(media.map(_.media_id).sorted.toSeq == again.map(_.media_id).sorted.toSeq)
    // size guard drops oversized blobs (b.wav 2B + notes.txt 1B survive)
    val small = Multimodal.readBinaryFiles(spark, dir.toString, maxBytes = 2)
    assert(small.count() == 2)
  }

  test("decodeFeatures yields fixed-width normalized vectors and metadata") {
    val feats = Multimodal.decodeFeatures(
      Multimodal.mediaFromDocuments(docs), dim = 16).collect()
    assert(feats.forall(_.features.length == 16))
    assert(feats.forall(_.features.forall(f => f >= 0.0f && f <= 1.0f)))
    assert(feats.forall(f => f.width >= 16 && f.width < 80))
    assert(feats.forall(f => f.n_bytes > 0 && f.duration_ms == f.n_bytes * 7))
  }

  test("frame sampling emits n frames for video rows only") {
    val media = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.sampleFrames(media, n = 4).collect()
    val videoIds = media.filter(_.kind == "video").collect().map(_.media_id).toSet
    assert(frames.map(_.media_id).toSet == videoIds)
    frames.groupBy(_.media_id).foreach { case (_, fs) =>
      assert(fs.map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2, 3))
      assert(fs.forall(_.frame_bytes.length <= 32))
    }
  }

  test("resizeFeatures halves the vector width") {
    val feats = Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(docs), dim = 16)
    val resized = Multimodal.resizeFeatures(feats, 8).collect()
    assert(resized.forall(_.getAs[Seq[Float]]("features").length == 8))
  }

  test("caption alignment: matched captions keep, planted misaligned pairs drop") {
    import org.apache.spark.sql.functions._
    // payload = doc text; caption is either the doc's own prefix (aligned)
    // or a CONSTANT-byte string (maximally misaligned: zero feature
    // variance -> score exactly 0) — a violation with a known verdict
    val pairs = docs.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      when(col("doc_id") % 5 === 0, lit("z" * 40))
        .otherwise(expr("substring(text, 1, 96)")).as("caption"))
    val card = Multimodal.captionAlign(pairs, "doc_id", "payload", "caption",
        floor6 = 200000L)
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Long]("align6"), r.getAs[Int]("aligned")))).toMap
    // every constant-caption pair scores exactly 0 (zero caption variance)
    card.filter(_._1 % 5 == 0).values.foreach { case (a6, al) =>
      assert(a6 == 0L && al == 0)
    }
    // and real prefixes overwhelmingly pass: the filter discriminates
    val own = card.filter(_._1 % 5 != 0).values
    assert(own.count(_._2 == 1) > own.size / 2,
      "own-prefix captions should mostly align")
  }

  test("alignment score is symmetric-exact and zero-variance-safe") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Array(0.1f, 0.9f, 0.1f, 0.9f), Array(0.2f, 0.8f, 0.2f, 0.8f)),
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f), Array(0.1f, 0.9f, 0.1f, 0.9f)), // zero variance left
      (3L, Array(0.1f, 0.9f, 0.1f, 0.9f), Array(0.9f, 0.1f, 0.9f, 0.1f))  // anti-aligned
    )
    val spark2 = spark
    import spark2.implicits._
    val scored = df.toDF("id", "a", "b")
      .withColumn("s", expr(Multimodal.alignmentScore6("a", "b")))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scored(1L) == 1000000L) // same fluctuation shape: centered cos = 1
    assert(scored(2L) == 0L)       // zero variance guard
    assert(scored(3L) == -1000000L)
  }

  test("stub features are invariant under a same-bucket byte swap (the aHash dedup premise)") {
    // positions 0 and 16 (0-based) land in byte bucket 0 of a dim-16
    // feature vector: swapping them changes the bytes but not a single
    // bucket sum — the planted case behind q_m5_perceptual_dedup
    val t = "abcdefghijklmnopQ-rest-of-payload"
    val swapped = "Qbcdefghijklmnopa-rest-of-payload"
    val f1 = Multimodal.StubCodec.features(t.getBytes("UTF-8"), 16).toSeq
    val f2 = Multimodal.StubCodec.features(swapped.getBytes("UTF-8"), 16).toSeq
    assert(f1 == f2)
    // a swap across DIFFERENT buckets does move the features
    val crossSwap = "bacdefghijklmnopQ-rest-of-payload" // pos 0 <-> 1
    val f3 = Multimodal.StubCodec.features(crossSwap.getBytes("UTF-8"), 16).toSeq
    assert(f1 != f3)
  }

  test("parseMp4Meta: v0/v1 mvhd, 64-bit largesize, size-0 box, defect rows") {
    import spark.implicits._
    def parse(bytes: Array[Byte]): Multimodal.Mp4Meta =
      Multimodal.parseMp4Meta(Seq((1L, bytes)).toDF("id", "mp4"), "id", "mp4")
        .collect().head
    val v0 = parse(Multimodal.mp4Meta("isom", 600L, 12345L))
    assert(v0.valid && v0.major_brand == "isom" && v0.timescale == 600L &&
      v0.duration == 12345L && v0.n_top_boxes == 4)
    // v1 carries a duration that does NOT fit 32 bits
    val big = 0x1_2345_6789L
    val v1 = parse(Multimodal.mp4Meta("mp42", 90000L, big, mvhdV1 = true))
    assert(v1.valid && v1.duration == big && v1.timescale == 90000L)
    // hand-build a top-level box with a 64-bit largesize header and a
    // trailing size-0 (to-EOF) box: both must advance correctly
    def be32(v: Long) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    val base = Multimodal.mp4Meta("isom", 600L, 7L)
    val largesize = be32(1L) ++ "free".getBytes("US-ASCII") ++
      be32(0L) ++ be32(21L) ++ new Array[Byte](5) // 16 hdr + 5 payload
    val toEof = be32(0L) ++ "skip".getBytes("US-ASCII") ++ new Array[Byte](9)
    val fancy = parse(base ++ largesize ++ toEof)
    assert(fancy.valid && fancy.n_top_boxes == 6, fancy.toString)
    // defects: rows, never exceptions
    assert(parse(base.take(40)).reason == "box-overruns-file")
    assert(parse(base.take(5)).reason == "truncated-box-header")
    assert(parse(Array[Byte]()).reason == "no-ftyp")
    val noMoov = parse(Multimodal.mp4Meta("isom", 600L, 7L).take(31)) // ftyp+free only
    assert(noMoov.reason == "no-mvhd")
    // corrupt mvhd version byte
    val badV = base.clone()
    // mvhd version byte: ftyp(20) + free(11) + moov hdr(8) + free(10) + mvhd hdr(8)
    badV(20 + 11 + 8 + 10 + 8) = 7
    assert(parse(badV).reason == "mvhd-malformed")
  }

  test("parseWav: round-trip, chunk walking + RIFF padding, every defect class is a row") {
    import spark.implicits._
    val pcm = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1000).putShort(-1000).putShort(10).putShort(-10)
      .putShort(7).putShort(-7).array()
    def parse(bytes: Array[Byte]): Multimodal.WavRecord =
      Multimodal.parseWav(Seq((1L, bytes)).toDF("id", "wav"), "id", "wav")
        .collect().head
    // canonical round-trip: header fields + byte-identical PCM
    val ok = parse(Multimodal.pcmWav(44100, 1, pcm))
    assert(ok.valid && ok.sample_rate == 44100 && ok.channels == 1 &&
      ok.bits == 16 && ok.n_samples == 6 && ok.pcm.toSeq == pcm.toSeq)
    // stereo sample accounting
    assert(parse(Multimodal.pcmWav(8000, 2, pcm)).n_samples == 3)
    // odd-sized extra chunks exercise the even-padding rule: data must
    // still be found and byte-identical
    val padded = parse(Multimodal.pcmWav(8000, 1, pcm,
      extraChunks = Seq("LIST" -> Array[Byte](1, 2, 3), "junk" -> Array[Byte](9))))
    assert(padded.valid && padded.pcm.toSeq == pcm.toSeq)
    // defect classes: rows, never exceptions
    val good = Multimodal.pcmWav(8000, 1, pcm)
    def corrupt(mutate: Array[Byte] => Unit): Multimodal.WavRecord = {
      val c = good.clone(); mutate(c); parse(c)
    }
    assert(parse(Array[Byte](1, 2)).reason == "truncated-preamble")
    assert(corrupt(_(0) = 'X').reason == "bad-magic")
    assert(corrupt(_(8) = 'X').reason == "not-wave")
    assert(corrupt(_(20) = 3).reason == "not-pcm") // format field
    assert(corrupt(_(34) = 8).reason == "unsupported-bits")
    // data chunk size overrunning the file must be caught, not crash
    assert(corrupt { c => c(40) = -1; c(41) = -1 }.reason == "chunk-overruns-file")
    assert(parse(good.take(20)).reason == "chunk-overruns-file")
    // a WAV with fmt but no data, and one with data before fmt
    val noData = good.take(36)
    assert(parse(noData).reason == "no-data-chunk")
  }

  test("pcmVad: exact energies, island merging, trailing frames, empty/partial input") {
    import spark.implicits._
    def pcm(samples: Seq[Int]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(s => buf.putShort(s.toShort))
      buf.array()
    }
    val loud = Seq(1000, -1000)          // frame energy 2,000,000
    val quiet = Seq(10, -10)             // frame energy 200
    val rows = Seq(
      // loud loud quiet loud  -> segments [0,1] and [3,3] (trailing flush)
      (1L, pcm(loud ++ loud ++ quiet ++ loud)),
      (2L, pcm(quiet ++ quiet)),                  // all quiet -> nothing
      (3L, pcm(Seq.empty)),                       // empty -> nothing
      // trailing PARTIAL frame (1 sample) is dropped, not misread
      (4L, pcm(loud ++ Seq(1000))),
      // s16le sign handling: -32768 must square exactly, not wrap
      (5L, pcm(Seq(-32768, 0)))
    ).toDF("doc_id", "pcm")
    val out = Multimodal.pcmVad(rows, "doc_id", "pcm",
        samplesPerFrame = 2, energyFloor = 1000000L)
      .collect().map(v => (v.id, v.seg_idx, v.start_frame, v.end_frame,
        v.n_frames, v.energy_sum)).toSet
    assert(out == Set(
      (1L, 0, 0, 1, 2, 4000000L), (1L, 1, 3, 3, 1, 2000000L),
      (4L, 0, 0, 0, 1, 2000000L),
      (5L, 0, 0, 0, 1, 32768L * 32768L)))
  }

  test("pcmMonoResample: floorDiv mixdown, 48k→16k decimation length, interp, s16 bounds") {
    import spark.implicits._
    def s16le(vals: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vals.size * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(v => b.putShort(v.toShort))
      b.array()
    }
    def run(rate: Int, ch: Int, pcm: Array[Byte], dst: Int): Multimodal.ResampledPcm =
      Multimodal.pcmMonoResample(
        Multimodal.parseWav(
          Seq((1L, Multimodal.pcmWav(rate, ch, pcm))).toDF("id", "wav"),
          "id", "wav"), dst).collect().head
    def samples(r: Multimodal.ResampledPcm): Seq[Int] =
      (0 until r.n_samples.toInt).map(j =>
        ((r.pcm(2 * j) & 0xff) | (r.pcm(2 * j + 1) << 8)).toShort.toInt)

    // stereo→mono exactness incl. floorDiv on NEGATIVE odd sums:
    // (-3 + 2)/2 → floor(-0.5) = -1, never trunc's 0
    val mono = run(16000, 2, s16le(-3, 2, 5, 4, -7, -8), 16000)
    assert(mono.valid && mono.n_samples == 3 && samples(mono) == Seq(-1, 4, -8))

    // 48k→16k: up = 1, down = 3 — pure decimation out[j] = mono[3j],
    // n_out = (n-1)/3 + 1
    val dec = run(48000, 1, s16le((0 until 10).map(i => i * 100): _*), 16000)
    assert(dec.sample_rate == 16000 && dec.n_samples == 4 &&
      samples(dec) == Seq(0, 300, 600, 900))

    // rational 48k→32k: up = 2, down = 3 — odd outputs interpolate
    // halfway: out = floorDiv(m0 + m1, 2)
    val rat = run(48000, 1, s16le(0, 100, 200, 301, 400, 500), 32000)
    assert(rat.n_samples == 4 && samples(rat) == Seq(0, 150, 301, 450))

    // clipping bounds: full-scale extremes mix and resample INSIDE s16 —
    // floorDiv(32767 + -32768, 2) = -1, endpoints preserved exactly
    val full = run(48000, 2,
      s16le(32767, -32768, -32768, -32768, 32767, 32767), 16000)
    assert(samples(full) == Seq(-1))
    val edge = run(48000, 1, s16le(-32768, 32767, -32768, 32767), 32000)
    assert(samples(edge).forall(v => v >= -32768 && v <= 32767) &&
      samples(edge).head == -32768)

    // invalid parse rows propagate as invalid, never throw
    val bad = Multimodal.pcmMonoResample(
      Multimodal.parseWav(
        Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "wav"), "id", "wav"),
      16000).collect().head
    assert(!bad.valid && bad.reason == "truncated-preamble")

    // a zeroed rate field is a CORRUPT header, not a valid record — it
    // must quarantine at parse, never reach the resampler's rate
    // arithmetic as a divide-by-zero (r15 review); > 2^31 rates wrap
    // negative through the u32 read and die on the same check
    val zeroRate = Multimodal.pcmWav(44100, 1, s16le(1, 2, 3))
    // fmt chunk layout: "RIFF"+size+"WAVE" (12) + "fmt "+size (8) +
    // format(2)+channels(2) → rate at offset 24
    for (o <- 24 until 28) zeroRate(o) = 0
    val zr = Multimodal.pcmMonoResample(
      Multimodal.parseWav(Seq((10L, zeroRate)).toDF("id", "wav"), "id", "wav"),
      16000).collect().head
    assert(!zr.valid && zr.reason == "bad-rate", s"got $zr")
    val bigRate = Multimodal.pcmWav(44100, 1, s16le(1, 2, 3))
    bigRate(27) = 0x80.toByte // rate = 2^31: wraps negative via toInt
    val br = Multimodal.pcmMonoResample(
      Multimodal.parseWav(Seq((11L, bigRate)).toDF("id", "wav"), "id", "wav"),
      16000).collect().head
    assert(!br.valid && br.reason == "bad-rate", s"got $br")
  }

  test("anti-alias FIR: a planted above-Nyquist tone VANISHES through the " +
       "filter and survives decimation at full amplitude without it") {
    import spark.implicits._
    def s16le(vals: Seq[Int]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vals.size * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(v => b.putShort(v.toShort))
      b.array()
    }
    def samples(r: Multimodal.ResampledPcm): Seq[Int] =
      (0 until r.n_samples.toInt).map(j =>
        ((r.pcm(2 * j) & 0xff) | (r.pcm(2 * j + 1) << 8)).toShort.toInt)
    def run(pcm: Seq[Int], taps: Int): Seq[Int] =
      samples(Multimodal.pcmMonoResample(
        Multimodal.parseWav(
          Seq((1L, Multimodal.pcmWav(48000, 1, s16le(pcm)))).toDF("id", "wav"),
          "id", "wav"), 16000, antiAliasTaps = taps).collect().head)

    // pure 24 kHz tone (±2000, the 48 kHz Nyquist alternation — far above
    // the 8 kHz destination Nyquist): unfiltered decimation samples it
    // COHERENTLY (every 3rd sample alternates sign) and ships a
    // full-amplitude 8 kHz alias; the 63-tap FIR kills it (>50 dB Hamming
    // stopband → < 1% residual)
    val tone = (0 until 480).map(t => if (t % 2 == 0) 2000 else -2000)
    val aliased = run(tone, taps = 0)
    assert(aliased.drop(11).dropRight(11).exists(v => math.abs(v) == 2000),
      "unfiltered decimation must alias the tone at full amplitude")
    val filtered = run(tone, taps = 63)
    val interior = filtered.drop(11).dropRight(11)
    assert(interior.forall(v => math.abs(v) <= 20),
      s"24 kHz tone survived the FIR: peak ${interior.map(math.abs).max}")

    // an IN-BAND signal survives: 1 kHz block wave keeps its fundamental
    // (smoothed corners, amplitude within ~25% of the input)
    val block = (0 until 480).map(t => if ((t / 24) % 2 == 0) 1500 else -1500)
    val kept = run(block, taps = 63).drop(11).dropRight(11)
    assert(kept.map(math.abs).max >= 1100,
      s"in-band block wave lost its amplitude: ${kept.map(math.abs).max}")
    // DC gain is exactly 1: a constant signal passes through untouched
    val dc = run(Seq.fill(480)(1234), taps = 63).drop(11).dropRight(11)
    assert(dc.forall(_ == 1234), s"DC gain != 1: ${dc.distinct}")

    // taps = 0 (default) is byte-identical to the r15 kernel — q_m17's pin
    val plain = run(tone, taps = 0)
    assert(plain == samples(Multimodal.pcmMonoResample(
      Multimodal.parseWav(
        Seq((1L, Multimodal.pcmWav(48000, 1, s16le(tone)))).toDF("id", "wav"),
        "id", "wav"), 16000).collect().head))
    // upsampling never filters (no aliases to prevent): flag is a no-op
    def up(taps: Int): Seq[Int] = samples(Multimodal.pcmMonoResample(
      Multimodal.parseWav(
        Seq((1L, Multimodal.pcmWav(48000, 1, s16le(block.take(96)))))
          .toDF("id", "wav"),
        "id", "wav"), 96000, antiAliasTaps = taps).collect().head)
    assert(up(63) == up(0))
  }
}
