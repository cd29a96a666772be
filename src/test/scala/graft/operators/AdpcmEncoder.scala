package graft.operators

/** IMA ADPCM encoder that builds the AdpcmSpec fixtures for
  * [[Multimodal.parseWavAdpcm]]. */
object AdpcmEncoder {

  /** Encode s16 samples as one IMA ADPCM block: sample 0 becomes the
    * block header predictor; each later sample quantizes its delta
    * through the mirrored state machine (encoder and decoder run the
    * SAME reconstruction, so state never drifts — the property the
    * round-trip spec pins). Returns (headerPredictor, headerIndex,
    * packed nibble bytes); each block is self-contained — its header
    * restarts the decoder state, so multi-block encodes need no state
    * threading. Sample count must be odd (header + 2 per byte — the
    * WAV samplesPerBlock shape). */
  def adpcmEncodeBlock(samples: Array[Short],
                       idx0: Int): (Int, Int, Array[Byte]) = {
    require(samples.nonEmpty && samples.length % 2 == 1,
      s"block sample count must be odd, got ${samples.length}")
    val data = new Array[Byte]((samples.length - 1) / 2)
    var pred = samples(0).toInt
    var idx = idx0
    var s = 1
    var o = 0
    while (s < samples.length) {
      def nibbleFor(target: Int): Int = {
        val step = Multimodal.AdpcmStepTable(idx)
        var delta = target - pred
        var nib = 0
        if (delta < 0) { nib = 8; delta = -delta }
        if (delta >= step) { nib |= 4; delta -= step }
        if (delta >= (step >> 1)) { nib |= 2; delta -= step >> 1 }
        if (delta >= (step >> 2)) { nib |= 1 }
        nib
      }
      val lo = nibbleFor(samples(s).toInt)
      val (p1, i1) = Multimodal.adpcmStep(lo, pred, idx)
      pred = p1; idx = i1
      val hi = nibbleFor(samples(s + 1).toInt)
      val (p2, i2) = Multimodal.adpcmStep(hi, pred, idx)
      pred = p2; idx = i2
      data(o) = (lo | (hi << 4)).toByte
      s += 2; o += 1
    }
    (samples(0).toInt, idx0, data)
  }
}
