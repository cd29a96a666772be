package graft.operators

import graft.SparkTestBase

/** IMA ADPCM decode (r16 VERDICT #8 — the first real compressed-audio
  * codec path): the integer state machine against hand-computed vectors,
  * the encoder/decoder round trip vs the PCM twin, container defect
  * quarantine, and composition into the existing PCM pipeline. */
class AdpcmSpec extends SparkTestBase {
  import spark.implicits._

  private def decodeOne(payload: Array[Byte]): Multimodal.WavRecord =
    Multimodal.parseWavAdpcm(
      Seq((1L, payload)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head

  private def samplesOf(r: Multimodal.WavRecord): Seq[Int] = {
    val bb = java.nio.ByteBuffer.wrap(r.pcm)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until r.n_samples.toInt).map(_ => bb.getShort.toInt)
  }

  test("state machine matches the hand-computed IMA vectors") {
    // from (pred=0, idx=0, step=7): nibbles 1,3 -> +1, +4; 8,8 -> -0, -0;
    // 7 -> +11 with idx += 8; 0 at step 16 -> +2 with idx -= 1
    val out = Multimodal.adpcmDecodeCore(
      Array(0x31.toByte, 0x88.toByte, 0x07.toByte), 0, 3, 0, 0)
    assert(out.toSeq == Seq[Short](0, 1, 5, 5, 5, 16, 18))
    // clamping: max-magnitude negative nibbles must floor at -32768
    val down = Multimodal.adpcmDecodeCore(
      Array.fill(40)(0xff.toByte), 0, 40, -32000, 88)
    assert(down.last == -32768 && down.forall(_ >= -32768))
  }

  test("encode -> container -> decode round trip tracks the PCM twin") {
    // a smooth 241-sample tone (ADPCM is a DELTA codec: it tracks
    // band-limited signals, not modular pseudo-noise whose sample-to-
    // sample jumps exceed the max quantizer step): encoder state mirrors
    // the decoder, so after the initial transient reconstruction must
    // track the source closely
    val src = Array.tabulate(241)(i =>
      (math.sin(i * 0.05) * 12000 + math.sin(i * 0.21) * 3000).toShort)
    val (pred, idx, data) = AdpcmEncoder.adpcmEncodeBlock(src, idx0 = 60)
    val wav = Multimodal.adpcmWav(16000, Seq((pred, idx, data)))
    val rec = decodeOne(wav)
    assert(rec.valid && rec.sample_rate == 16000 && rec.channels == 1)
    assert(rec.n_samples == 241L && rec.bits == 16)
    val dec = samplesOf(rec)
    // PCM twin through the uncompressed path: same samples, parseWav
    val pcmBytes = {
      val bb = java.nio.ByteBuffer.allocate(src.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      src.foreach(bb.putShort)
      bb.array()
    }
    val twin = Multimodal.parseWav(
      Seq((1L, Multimodal.pcmWav(16000, 1, pcmBytes))).toDF("doc_id", "payload"),
      "doc_id", "payload").collect().head
    val twinSamples = {
      val bb = java.nio.ByteBuffer.wrap(twin.pcm)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until twin.n_samples.toInt).map(_ => bb.getShort.toInt)
    }
    assert(dec.size == twinSamples.size)
    val errs = dec.zip(twinSamples).map { case (a, b) => math.abs(a - b) }
    val meanErr = errs.sum.toDouble / errs.size
    info(f"round-trip maxErr=${errs.max} meanErr=$meanErr%.1f")
    // 4-bit lossy codec on a +-16k swing signal: the bound is the
    // adapted step size, far inside these envelopes
    assert(errs.max <= 4096, s"max reconstruction error ${errs.max}")
    assert(meanErr <= 512, f"mean reconstruction error $meanErr%.1f")
  }

  test("multi-block streams decode block-independently") {
    val srcA = Array.tabulate(17)(i => (i * 900 - 7000).toShort)
    val srcB = Array.tabulate(17)(i => (8000 - i * 700).toShort)
    val (pA, iA, dA) = AdpcmEncoder.adpcmEncodeBlock(srcA, idx0 = 40)
    val (pB, iB, dB) = AdpcmEncoder.adpcmEncodeBlock(srcB, idx0 = 40)
    val rec = decodeOne(Multimodal.adpcmWav(8000, Seq((pA, iA, dA), (pB, iB, dB))))
    assert(rec.valid && rec.n_samples == 34L)
    val dec = samplesOf(rec)
    // block headers restart the predictor exactly: sample 0 of each
    // block is the header predictor verbatim
    assert(dec(0) == srcA(0).toInt && dec(17) == srcB(0).toInt)
  }

  test("container defects quarantine as rows") {
    val good = {
      val (p, i, d) = AdpcmEncoder.adpcmEncodeBlock(
        Array.tabulate(9)(_.toShort), idx0 = 0)
      Multimodal.adpcmWav(8000, Seq((p, i, d)))
    }
    def mutate(f: Array[Byte] => Array[Byte]): String = {
      val r = decodeOne(f(good.clone()))
      assert(!r.valid); r.reason
    }
    assert(mutate(b => b.take(50)) == "chunk-overruns-file")
    assert(mutate(b => b.take(40)) == "no-data-chunk")
    assert(mutate { b => b(20) = 1.toByte; b } == "not-ima-adpcm") // fmt tag
    assert(mutate { b => b(22) = 2.toByte; b } == "unsupported-channels")
    // block header index byte 89: out of table range
    val dataStart = good.length - (4 + 4) // one block: 4 hdr + 4 data bytes
    assert(mutate { b => b(dataStart + 2) = 89.toByte; b } ==
      "block-index-out-of-range")
  }

  test("G.711 decode matches the spec anchor values; both companding " +
       "laws round-trip the container") {
    // spec anchors (ITU-T G.711 / public reference code): µ-law 0x00 is
    // the most-negative code (-32124), 0x80 its positive mirror, 0xff
    // decodes to +0; A-law 0x55 is -8 (xor mask zero), 0xd5 is +8
    assert(Multimodal.ulawToPcm(0x00.toByte) == -32124)
    assert(Multimodal.ulawToPcm(0x80.toByte) == 32124)
    assert(Multimodal.ulawToPcm(0xff.toByte) == 0)
    assert(Multimodal.alawToPcm(0x55.toByte) == -8)
    assert(Multimodal.alawToPcm(0xd5.toByte) == 8)
    assert(Multimodal.alawToPcm(0x2a.toByte) == -32256)
    assert(Multimodal.alawToPcm(0xaa.toByte) == 32256)
    // µ-law's 256 codes cover 255 distinct values (+0 and -0 collide)
    assert((0 until 256).map(b => Multimodal.ulawToPcm(b.toByte)).distinct.size == 255)
    assert((0 until 256).map(b => Multimodal.alawToPcm(b.toByte)).distinct.size == 256)
    // container round trip, one WAV per law
    val bytes = Array.tabulate(64)(i => (i * 4 + 1).toByte)
    for ((fmt, dec) <- Seq(
        6 -> ((b: Byte) => Multimodal.alawToPcm(b)),
        7 -> ((b: Byte) => Multimodal.ulawToPcm(b)))) {
      val r = Multimodal.parseWavG711(
        Seq((1L, Multimodal.g711Wav(8000, 1, fmt, bytes)))
          .toDF("doc_id", "payload"), "doc_id", "payload").collect().head
      assert(r.valid && r.n_samples == 64L && r.bits == 16)
      val got = {
        val bb = java.nio.ByteBuffer.wrap(r.pcm)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 64).map(_ => bb.getShort.toInt)
      }
      assert(got == bytes.map(dec).toSeq)
    }
    // a stereo stream with a torn final frame quarantines (n_samples
    // and the decoded buffer would disagree otherwise — review r17 #7)
    val torn = Multimodal.parseWavG711(
      Seq((1L, Multimodal.g711Wav(8000, 2, 7, Array.fill(7)(0x40.toByte))))
        .toDF("doc_id", "payload"), "doc_id", "payload").collect().head
    assert(!torn.valid && torn.reason == "partial-frame")
    // PCM (format 1) through the G.711 parser quarantines
    val pcmWav = Multimodal.pcmWav(8000, 1, Array.fill(8)(0.toByte))
    val bad = Multimodal.parseWavG711(
      Seq((1L, pcmWav)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head
    assert(!bad.valid && bad.reason == "not-g711")
  }

  test("partial final ADPCM block decodes short (the WAV convention); " +
       "sub-header fragments quarantine") {
    val (p1, i1, d1) = AdpcmEncoder.adpcmEncodeBlock(
      Array.tabulate(9)(i => (i * 100).toShort), idx0 = 10)
    val full = Multimodal.adpcmWav(8000, Seq((p1, i1, d1)))
    // chop the data chunk 2 bytes short and patch sizes: the final block
    // decodes its shorter run — valid, 2 fewer samples
    val cut = full.dropRight(2)
    val bb = java.nio.ByteBuffer.wrap(cut).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, cut.length - 8)            // RIFF size
    bb.putInt(cut.length - 4 - 2 - 8 + 4, 6) // data size: 4 hdr + 2 nibble bytes
    val shortRec = decodeOne(cut)
    assert(shortRec.valid && shortRec.n_samples == 5L)
    // a fragment smaller than a block header quarantines
    val frag = full.dropRight(5)
    val fb = java.nio.ByteBuffer.wrap(frag).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fb.putInt(4, frag.length - 8)
    fb.putInt(frag.length - 3 - 8 + 4 - 4 + 4, 3)
    // (sizes: data chunk declared 3 bytes — under the 5-byte header floor)
    val fragRec = decodeOne(frag)
    assert(!fragRec.valid && fragRec.reason == "truncated-block-header")
  }

  test("decoded ADPCM composes into the PCM pipeline (resample)") {
    val src = Array.tabulate(97)(i => (math.sin(i * 0.2) * 9000).toShort)
    val (p, i, d) = AdpcmEncoder.adpcmEncodeBlock(src, idx0 = 50)
    val wavs = Seq((1L, Multimodal.adpcmWav(32000, Seq((p, i, d)))))
      .toDF("doc_id", "payload")
    val res = Multimodal.pcmMonoResample(
      Multimodal.parseWavAdpcm(wavs, "doc_id", "payload"), 16000)
      .collect().head
    assert(res.valid && res.sample_rate == 16000)
    assert(res.n_samples == 49L) // (97-1)*1/2 + 1
  }
}
