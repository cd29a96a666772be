package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads with typed metadata.
  * The container has no image/audio codecs, so the decode step is a
  * deterministic stub (graft.operators.Multimodal) — what is REAL and
  * oracle-checked here is the Spark-side plumbing: binary encode, byte-level
  * metadata extraction, and deterministic batch shaping.
  */
object MultimodalQueries {

  /** The (payload, caption) pair construction shared by q_m6/q_m7: payload
    * is the doc's UTF-8 bytes; the caption is the doc's own 96-char prefix,
    * except every 6th doc takes it from the REVERSED text — same byte
    * distribution, decorrelated positional bucket profile, so its centered
    * cosine collapses (the planted misalignment).
    */
  private def withPlantedCaptions(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        when(col("doc_id") % 6 === 0, expr("substring(reverse(text), 1, 96)"))
          .otherwise(expr("substring(text, 1, 96)")).as("caption"))

  /** Planted raw-PCM audio for q_m8: 8 frames of 4 s16le samples per doc,
    * frame f LOUD (alternating ±1000 — energy 4·10⁶ exactly) iff bit f of
    * doc_id is set, else quiet (±10 — energy 400). Expected VAD segments
    * are therefore the RUNS OF SET BITS in doc_id's low byte — fully
    * analytic for the oracle, and every boundary is an exact integer
    * compare. */
  private def plantedPcm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the thin id frame before the render kernel
    // (single-split source; guide §2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long]
      .map { id =>
        val buf = java.nio.ByteBuffer.allocate(8 * 4 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        for (f <- 0 until 8; i <- 0 until 4) {
          val amp: Int = if (((id >> f) & 1L) == 1L) 1000 else 10
          buf.putShort((if (i % 2 == 0) amp else -amp).toShort)
        }
        (id, buf.array())
      }
      .toDF("doc_id", "pcm")
  }

  /** q_m9's planted pixel formula, shared by Spark construction and
    * scaladoc: gray value of pixel (x, y) of doc `id`'s 16×16 image.
    * The %9 VARIANT renders the SAME function at x XOR 1 — horizontal
    * neighbours swapped inside every 2×2 block, so every 8×8-grid cell
    * sum (cells are exactly the 2×2 blocks) is untouched while the bytes
    * always differ (adjacent-x values differ by 7 mod 256 ≠ 0). */
  private def m9Pixel(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** q_m16's pixel formula: a cubic mix of a 16-bit seed, chosen (and
    * empirically verified at 500 and 5000 docs) so UNRELATED images
    * land far apart in Hamming space — every pair the query reports is
    * a planted twin, graded purely by the perturbation's hash damage.
    * `s < 2^16` keeps `s³` far inside a LONG at any scale factor. */
  private def m16Pixel(id: Long, p: Int): Int = {
    val s = (id * 541 + p * 2897 + 1) % 65536
    ((s * s * s >> 8) % 256).toInt
  }

  /** q_m16 corpus: every doc renders one 16×16 image of [[m16Pixel]];
    * every 7th doc additionally plants a NEAR-duplicate twin whose
    * top-left 6×2 pixel patch (grid cells 0-2) is brightness-shifted
    * +160 mod 256 — a re-encode-style perturbation that flips a few
    * aHash/dHash bits (0-9 across the corpus, straddling the query's
    * maxDist = 4) while never colliding exactly. The twin lives at
    * `-(doc_id + 1)` — a namespace DISJOINT from every nonnegative
    * doc_id at ANY corpus size (r15 ADVICE: the old `doc_id + 900000`
    * offset aliased real ids past ~900k docs, silently merging a
    * planted twin with an unrelated document in larger ScaleBench
    * legs that share this builder). */
  private[graft] def m16Images(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the THIN id frame before the render/decode kernel
    // (single-split source ⇒ the whole BMP render otherwise runs in one
    // task — guide §2.5; only doc_ids cross the exchange, payloads are
    // born post-shuffle)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long]
      .flatMap { id =>
        def bmp(variant: Boolean): Array[Byte] = {
          val px = new Array[Int](256)
          var p = 0
          while (p < 256) {
            val v = m16Pixel(id, p)
            px(p) =
              if (variant && p / 16 < 2 && p % 16 < 6) (v + 160) % 256 else v
            p += 1
          }
          ImageCodec.grayBmp(16, 16, px)
        }
        if (id % 7 == 0) Iterator((id, bmp(false)), (-(id + 1L), bmp(true)))
        else Iterator((id, bmp(false)))
      }
      .toDF("media_id", "payload")
  }

  private def m9Images(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: same spread-before-render as m16Images (guide §2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long]
      .flatMap { id =>
        def bmp(variant: Boolean): Array[Byte] = {
          val px = new Array[Int](256)
          var p = 0
          while (p < 256) {
            val x0 = p % 16
            px(p) = m9Pixel(id, if (variant) x0 ^ 1 else x0, p / 16)
            p += 1
          }
          ImageCodec.grayBmp(16, 16, px)
        }
        if (id % 9 == 0) Iterator((id, bmp(false)), (id + 800000L, bmp(true)))
        else Iterator((id, bmp(false)))
      }
      .toDF("media_id", "payload")
  }

  /** The q_m16/q_m18 shared pair frame: decode → banded pigeonhole
    * join on aHash (maxDist 4, dHash carried) → multi-index AND filter.
    * Columns: id_a, id_b, hamming (aHash), ham_d (dHash), carry columns
    * suffixed _a and _b. ONE definition so the pair semantics can never drift
    * between the pair query and the cluster query (r15 review). */
  private def m16Pairs(s: SparkSession, dir: String): DataFrame = {
    val hashes = ImageCodec.decodeImages(m16Images(s, dir), "media_id", "payload")
      .toDF()
      .filter(col("decoded"))
      .select("media_id", "ahash", "dhash")
    // chunks = 10 (r15 VERDICT #1): the wide combination-key geometry —
    // C(10,4) = 210 keys of ~38 bits per image instead of 5 keys of
    // ~13 bits, so candidate volume scales with N·(N/2^38) instead of
    // N²/2^13. Identical output (pigeonhole recall is 100% either way;
    // the brute-force oracle grades the geometry).
    Dedup.hammingNearDuplicates64(hashes, "media_id", "ahash",
        maxDist = 4, carry = Seq("dhash"), chunks = 10)
      .withColumn("ham_d", Dedup.hamming64(col("dhash_a"), col("dhash_b")))
      .filter(col("ham_d") <= 4)
  }

  /** The m16 ANALYTIC hash replay, shared verbatim by the q_m16 and
    * q_m18 oracles (pixels → cells → aHash/dHash, incl. the cell-63
    * sign-bit dance): ends with CTE `h(media_id, ahash, dhash)`. */
  private val m16HashCte: String =
    """m AS (
      |  SELECT doc_id, doc_id AS media_id, FALSE AS var FROM documents
      |  UNION ALL
      |  SELECT doc_id, -(doc_id + 1), TRUE FROM documents WHERE doc_id % 7 = 0),
      |px AS (
      |  SELECT media_id,
      |         ((p // 16) // 2) * 8 + (p % 16) // 2 AS cell,
      |         CASE WHEN var AND p // 16 < 2 AND p % 16 < 6
      |              THEN ((s * s * s >> 8) % 256 + 160) % 256
      |              ELSE (s * s * s >> 8) % 256 END AS v
      |  FROM (SELECT media_id, var, g.p AS p,
      |               (doc_id * 541 + g.p * 2897 + 1) % 65536 AS s
      |        FROM m, generate_series(0, 255) AS g(p))),
      |cells AS (SELECT media_id, cell, sum(v) AS s FROM px GROUP BY 1, 2),
      |tot AS (SELECT media_id, sum(s) AS t FROM cells GROUP BY 1),
      |ah AS (SELECT c.media_id,
      |              CAST(sum(CASE WHEN c.s * 64 <= t.t THEN 0
      |                            WHEN c.cell = 63
      |                            THEN CAST(-9223372036854775807 AS BIGINT) - 1
      |                            ELSE (CAST(1 AS BIGINT) << CAST(c.cell AS INT))
      |                            END) AS BIGINT) AS ahash
      |       FROM cells c JOIN tot t USING (media_id) GROUP BY 1),
      |dh AS (SELECT a.media_id,
      |              CAST(sum(CASE WHEN a.s > b.s
      |                            THEN (CAST(1 AS BIGINT)
      |                                  << CAST((a.cell // 8) * 7 + a.cell % 8 AS INT))
      |                            ELSE 0 END) AS BIGINT) AS dhash
      |       FROM cells a
      |       JOIN cells b ON a.media_id = b.media_id AND b.cell = a.cell + 1
      |                   AND a.cell % 8 < 7
      |       GROUP BY 1),
      |h AS (SELECT ah.media_id, ah.ahash, dh.dhash
      |      FROM ah JOIN dh USING (media_id))""".stripMargin

  /** q_m17 corpus: per doc one stereo 48 kHz WAV of 96 planted-tone
    * samples — L/R from modular doc_id arithmetic, all inside s16.
    * Shared with ScaleBench's `pcm_resample_scale` so the scale leg can
    * never drift from the graded construction. */
  private[graft] def m17Wavs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the thin id frame before the render kernel (§2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long].map { id =>
        val buf = java.nio.ByteBuffer.allocate(96 * 2 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < 96) {
          buf.putShort((((id * 31 + i * 17) % 1201) * 27 - 16000).toShort)
          buf.putShort((((id * 13 + i * 23) % 997) * 31 - 15000).toShort)
          i += 1
        }
        (id, Multimodal.pcmWav(48000, 2, buf.array()))
      }.toDF("doc_id", "payload")
  }

  /** q_m19 corpus: per doc one MONO 48 kHz WAV of 240 samples carrying a
    * FULL-AMPLITUDE 24 kHz alternating tone (±2000 — far above the 8 kHz
    * destination Nyquist: the planted alias that must vanish) on top of a
    * ±1500 1 kHz block wave (in-band: must survive) and a small per-doc
    * DC offset. Pure decimation corpus (48k→16k, up = 1), so the oracle
    * replays convolution + take-every-3rd with no interpolation term. */
  private[graft] def m19Wavs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the thin id frame before the render kernel (§2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long].map { id =>
        val buf = java.nio.ByteBuffer.allocate(240 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var t = 0
        while (t < 240) {
          val low = if ((t / 24) % 2 == 0) 1500 else -1500
          val high = if (t % 2 == 0) 2000 else -2000
          buf.putShort((low + high + (id % 101) - 50).toShort)
          t += 1
        }
        (id, Multimodal.pcmWav(48000, 1, buf.array()))
      }.toDF("doc_id", "payload")
  }

  /** q_m20 corpus: per doc one mono IMA-ADPCM WAV of ONE 64-byte block —
    * header predictor (doc_id % 1024) - 512, header step index
    * doc_id % 40, then 60 bytes packing 120 nibbles
    * nib(u) = (doc_id * 7 + u * 13) % 16 (low nibble first, the IMA
    * order). Everything derives from doc_id arithmetic so the oracle
    * replays the decode without parsing a byte of RIFF. */
  private[graft] def m20Wavs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the thin id frame before the render kernel (§2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long].map { id =>
        val data = new Array[Byte](60)
        var j = 0
        while (j < 60) {
          val lo = (((id * 7 + (2 * j) * 13) % 16).toInt + 16) % 16
          val hi = (((id * 7 + (2 * j + 1) * 13) % 16).toInt + 16) % 16
          data(j) = (lo | (hi << 4)).toByte
          j += 1
        }
        val pred0 = ((id % 1024) - 512).toInt
        val idx0 = (id % 40).toInt
        (id, Multimodal.adpcmWav(16000, Seq((pred0, idx0, data))))
      }.toDF("doc_id", "payload")
  }

  /** q_m21 corpus: per doc 200 G.711 bytes byte_t = (doc_id*11 + t*29)
    * % 256, companded as A-law for even doc_ids and µ-law for odd — both
    * branches of the stateless telephony codec under one hash. */
  private[graft] def m21Wavs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the thin id frame before the render kernel (§2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long].map { id =>
        val bytes = Array.tabulate(200)(t => (((id * 11 + t * 29) % 256)).toByte)
        val fmt = if (id % 2 == 0) 6 else 7
        (id, Multimodal.g711Wav(8000, 1, fmt, bytes))
      }.toDF("doc_id", "payload")
  }

  /** q_m22 corpus: per doc one AVI of 3 uncompressed 6x4 DIB frames
    * (row stride 20 = 18 data + 2 pad bytes), pixel byte at payload row
    * r, column x, channel c (BGR order):
    * (doc_id*3 + f*7 + r*11 + x*13 + c*17) % 251. Every %37 doc is
    * truncated 10 bytes short — its last frame chunk overruns and the
    * whole file must quarantine. */
  private[graft] def m22Avis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 perf: spread the thin id frame before the render kernel (§2.5)
    Tables.spread(Tables.read(s, dir, "documents")
        .select("doc_id"), col("doc_id")).as[Long].map { id =>
        val stride = 20
        val frames = (0 until 3).map { f =>
          val p = new Array[Byte](stride * 4)
          for (r <- 0 until 4; x <- 0 until 6; c <- 0 until 3)
            p(r * stride + x * 3 + c) =
              ((id * 3 + f * 7 + r * 11 + x * 13 + c * 17) % 251).toByte
          p
        }
        val avi = Multimodal.aviWrite(6, 4, 10, "DIB ", frames)
        (id, if (id % 37 == 0) avi.dropRight(10) else avi)
      }.toDF("doc_id", "payload")
  }

  /** The q_m19 FIR, shared by the Spark query and its oracle: the oracle
    * receives these Q15 integers as SQL literals (re-deriving the trig in
    * another engine would race double ulps; the integers ARE the
    * contract — [[Multimodal.antiAliasFir]] scaladoc). */
  private val m19Coeffs: Array[Int] = Multimodal.antiAliasFir(48000, 16000, 63)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // REAL image decode (r12 VERDICT #1): perceptual dedup over ImageIO-
    // decoded pixels — the real-pixel twin of q_m5's stub-codec aHash.
    // Payloads are genuine 24-bit BMP files built in-query from doc_id
    // arithmetic and round-tripped through javax.imageio: the decoder
    // must get row order (BMP is bottom-up), channel order (BGR) and the
    // BT.601 luma right or the grid sums — and hence both hash columns —
    // diverge from the oracle's analytic replay of the pixel formula.
    // Byte-different perceptual duplicates are planted by the 2×2-block
    // neighbour swap (see m9Pixel). One typed decode pass riding the
    // scan; the only exchange is the (hash, id) groupBy.
    "q_m9_image_ahash_dedup" -> ((s, dir) =>
      ImageCodec.decodeImages(m9Images(s, dir), "media_id", "payload")
        .toDF()
        .filter(col("decoded"))
        .groupBy("ahash", "dhash")
        .agg(min("media_id").as("keeper"), count(lit(1)).as("n_copies"),
          sum((col("media_id") >= 800000L).cast("long")).as("n_byte_variants"))
        .filter(col("n_copies") >= 2)
        .select("keeper", "n_copies", "n_byte_variants", "ahash", "dhash")
        .orderBy("keeper")),

    // REAL-pixel caption alignment (the q_m6 shape with the media tower
    // decoded, not stubbed): each doc's payload is a genuine 16×6 BMP
    // whose 96 pixels are the doc's 96-char prefix CYCLED (pixel p =
    // byte (p mod plen) of the prefix); the caption is that same prefix,
    // except every 6th doc takes the REVERSED prefix (the planted
    // misalignment). Decoded-gray bucket profiles of a byte-stream image
    // equal the stub text profile of the stream (the gray-vector
    // contract of ImageCodec.imageCaptionPairs), so an aligned pair with
    // plen = 96 scores centered cosine EXACTLY 1 — and any decode defect
    // (row order, BGR, luma) breaks that equality against the oracle's
    // analytic replay.
    "q_m10_image_caption_align" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          expr("substring(coalesce(text, ''), 1, 96)").as("prefix"),
          when(col("doc_id") % 6 === 0,
            expr("substring(reverse(coalesce(text, '')), 1, 96)"))
            .otherwise(expr("substring(coalesce(text, ''), 1, 96)"))
            .as("caption"))
      // r18 perf — the q_t28/q_t21/q_t5 pre-sorted-scan reshape (guide
      // §2.4/§2.5): the r17 finding was that a HASH spread made this
      // query worse (4.4 s vs 2.1) because the trailing orderBy's range
      // partitioner SAMPLES its input — executing the render+decode+
      // feature subtree twice. The cure is the reshape the text cards
      // already use: range-repartition the THIN (id, prefix, caption)
      // input by the output key and sort within partitions FIRST, run
      // the heavy render/decode/feature projection ABOVE the sorted
      // exchange (sampling only ever re-reads the cheap scan), and emit
      // with no Sort after the expensive work — row-local 1:1 stages
      // preserve the per-partition order and the range partitions are
      // globally ordered, so the output order is identical. Measured
      // isolated (warm reps, sf0.1): 2.1-2.5 s steady -> 0.51-0.59 s.
      val sortedIn = d
        .repartitionByRange(
          s.sessionState.conf.numShufflePartitions, col("doc_id"))
        .sortWithinPartitions("doc_id")
      val media = sortedIn.as[(Long, String, String)].map { case (id, prefix, caption) =>
        val bytes = (if (prefix == null) "" else prefix)
          .getBytes(StandardCharsets.UTF_8)
        val px = new Array[Int](96)
        if (bytes.nonEmpty) {
          var p = 0
          while (p < 96) { px(p) = bytes(p % bytes.length) & 0xff; p += 1 }
        }
        (id, ImageCodec.grayBmp(16, 6, px), caption)
      }.toDF("doc_id", "payload", "caption")
      ImageCodec.imageCaptionPairs(media, "doc_id", "payload", "caption")
        .withColumn("align6",
          expr(Multimodal.alignmentScore6("media_feats", "caption_feats")))
        .withColumn("aligned", (col("align6") >= 200000L).cast("int"))
        .select("media_id", "caption_chars", "align6", "aligned")
    }),

    // REAL WAV container parsing feeding the VAD (round 13): each doc's
    // q_m8 PCM pattern wrapped in a genuine RIFF/WAVE file built by byte
    // arithmetic — with a LIST chunk AND an odd-sized junk chunk between
    // fmt and data, so chunk walking and the RIFF even-byte padding rule
    // are load-bearing — at a per-doc sample rate; every 17th doc gets a
    // corrupted magic and must surface as a valid=0 ROW (totality), not
    // a task failure. The oracle replays header fields, the set-bit-run
    // segment count, and popcount energies analytically.
    "q_m11_wav_vad" -> ((s, dir) => {
      import s.implicits._
      val waved = plantedPcm(s, dir).as[(Long, Array[Byte])].map { case (id, pcm) =>
        val rate = 8000 + (id % 3).toInt * 4000
        val bytes = Multimodal.pcmWav(rate, 1, pcm, extraChunks = Seq(
          "LIST" -> "INFOgraft".getBytes("US-ASCII"),   // 9 bytes: odd, padded
          "junk" -> Array[Byte](1, 2, 3)))              // odd again
        if (id % 17 == 0) bytes(3) = 'X'.toByte // "RIFX": bad magic
        (id, bytes)
      }.toDF("doc_id", "wav")
      val parsed = Multimodal.parseWav(waved, "doc_id", "wav").toDF()
      val segs = Multimodal.pcmVad(
          parsed.filter(col("valid")), "id", "pcm",
          samplesPerFrame = 4, energyFloor = 1000000L)
        .toDF()
        .groupBy("id")
        .agg(count(lit(1)).as("n_segments"), sum("energy_sum").as("energy"))
      parsed.join(segs, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("valid").cast("int").as("valid"),
          col("reason"), col("sample_rate"), col("channels"),
          col("n_samples"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("energy"), lit(0L)).as("energy"))
        .orderBy("doc_id")
    }),

    // MP4 CONTAINER METADATA (round 13): the video branch's real
    // container walk — genuine ISO-BMFF boxes built by byte arithmetic
    // (ftyp + free + moov(free, mvhd) + mdat; v0 AND v1 mvhd layouts;
    // odd-size free boxes so box advancing is load-bearing), with a %19
    // truncation class that must surface as a valid=0 ROW whose moov
    // declared size overruns the cut. Codec decode is honestly out of
    // scope; brand/timescale/duration/box-census is what video-lake
    // inventory needs. Oracle: pure doc_id arithmetic.
    "q_m12_mp4_meta" -> ((s, dir) => {
      import s.implicits._
      val media = // r17 perf: spread the thin id frame before the render kernel (§2.5)
 Tables.spread(Tables.read(s, dir, "documents")
          .select("doc_id"), col("doc_id")).as[Long].map { id =>
          val brand = if (id % 2 == 0) "isom" else "mp42"
          val ts = 600L * (1L + id % 4)
          val dur = id % 100000L + 1L
          val bytes = Multimodal.mp4Meta(brand, ts, dur, mvhdV1 = id % 3 == 0)
          (id, if (id % 19 == 0) bytes.take(40) else bytes)
        }.toDF("doc_id", "payload")
      Multimodal.parseMp4Meta(media, "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"), col("valid").cast("int").as("valid"),
          col("reason"), col("major_brand"), col("timescale"),
          col("duration"), col("n_top_boxes"))
        .orderBy("doc_id")
    }),

    // EXIF/TIFF metadata + GPS strip (round 14): per-doc TIFF payloads
    // planted with both endiannesses, orientation/datetime tags, a GPS
    // IFD on the %3 class and a truncation on the %19 class. The WALK is
    // load-bearing (the oracle replays only the construction arithmetic,
    // never parsing), and the strip is verified THROUGH the parser: the
    // same census re-run on stripped payloads must show zero GPS
    // everywhere while orientation/datetime survive.
    "q_m13_exif_gps" -> ((s, dir) => {
      import s.implicits._
      val media = // r17 perf: spread the thin id frame before the render kernel (§2.5)
 Tables.spread(Tables.read(s, dir, "documents")
          .select("doc_id"), col("doc_id")).as[Long].map { id =>
          val dtp = f"2024:01:${id % 28 + 1}%02d ${id % 24}%02d:00:00"
          val gps =
            if (id % 3 == 0)
              Some(((id % 90).toDouble + 0.5, (id % 180).toDouble - 90.0 + 0.25))
            else None
          val bytes = Multimodal.tiffExif(little = id % 2 == 0,
            (id % 8 + 1).toInt, dtp, gps)
          (id, if (id % 19 == 0) bytes.take(6) else bytes)
        }.toDF("doc_id", "payload")
      val meta = Multimodal.parseExif(media, "doc_id", "payload").toDF()
      val afterStrip = Multimodal.parseExif(
          Multimodal.stripExifGps(media, "doc_id", "payload").toDF()
            .select(col("id").as("doc_id"), col("payload")),
          "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"),
          col("has_gps").cast("int").as("gps_after_strip"))
      meta.select(col("id").as("doc_id"),
          col("valid").cast("int").as("valid"), col("reason"),
          col("byte_order"), col("orientation"), col("datetime"),
          col("has_gps").cast("int").as("has_gps"), col("n_gps_entries"))
        .join(afterStrip, "doc_id")
        .orderBy("doc_id")
    }),

    // FLAC STREAMINFO census (round 14): planted containers spanning
    // four sample rates, both channel counts, three bit depths, an
    // optional PADDING block, and a %17 truncation class. The oracle is
    // the construction arithmetic — the bit-packed 20/3/5/36 STREAMINFO
    // walk is load-bearing.
    "q_m14_flac_meta" -> ((s, dir) => {
      import s.implicits._
      val rates = Array(8000, 16000, 44100, 48000)
      val media = // r17 perf: spread the thin id frame before the render kernel (§2.5)
 Tables.spread(Tables.read(s, dir, "documents")
          .select("doc_id"), col("doc_id")).as[Long].map { id =>
          val bytes = Multimodal.flacMeta(rates((id % 4).toInt),
            (id % 2 + 1).toInt, 16 + (id % 3).toInt, id * 131 % 1000000,
            padding = id % 5 == 0)
          (id, if (id % 17 == 0) bytes.take(20) else bytes)
        }.toDF("doc_id", "payload")
      Multimodal.parseFlac(media, "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"), col("valid").cast("int").as("valid"),
          col("reason"), col("sample_rate"), col("channels"), col("bits"),
          col("total_samples"), col("n_meta_blocks"))
        .orderBy("doc_id")
    }),

    // MP3 frame-header census (round 14): planted MPEG-1 Layer III frame
    // chains — three sample rates, 1-7 frames, CBR and per-frame-varying
    // VBR bitrates, padding bits on a %3 pattern (the declared-length
    // hop arithmetic is what keeps sync, so a length bug surfaces as
    // lost-sync corpus-wide), and a %13 sync-corruption class.
    "q_m15_mp3_census" -> ((s, dir) => {
      import s.implicits._
      val media = // r17 perf: spread the thin id frame before the render kernel (§2.5)
 Tables.spread(Tables.read(s, dir, "documents")
          .select("doc_id"), col("doc_id")).as[Long].map { id =>
          val n = (id % 7 + 1).toInt
          val brs = (0 until n).map(f =>
            if (id % 2 == 0) 9 else ((f + id) % 5 + 5).toInt)
          val pads = (0 until n).map(f => (f + id) % 3 == 0)
          val bytes = Multimodal.mp3Frames((id % 3).toInt, brs, pads)
          if (id % 13 == 0) bytes(0) = 0x00.toByte
          (id, bytes)
        }.toDF("doc_id", "payload")
      Multimodal.parseMp3(media, "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"), col("valid").cast("int").as("valid"),
          col("reason"), col("sample_rate"), col("n_frames"),
          col("n_samples"), col("cbr").cast("int").as("cbr"))
        .orderBy("doc_id")
    }),

    // Perceptual-hash HAMMING near-dup (r14 VERDICT #1): q_m9 groups on
    // EXACT hash equality, so a 1-bit re-encode escapes — the classic
    // image-dedup miss. Here decoded aHash goes through the banded
    // pigeonhole join (Dedup.hammingNearDuplicates64: maxDist+1 chunks
    // ⇒ recall 1 at <= maxDist, no all-pairs anywhere), dHash rides
    // along as a carry column for the multi-index AND filter. The
    // oracle replays the pixel formula analytically and brute-forces
    // Hamming <= 4 over ALL pairs — so both the decode and the banding
    // are under the driver hash.
    "q_m16_image_hamming_dedup" -> ((s, dir) =>
      m16Pairs(s, dir)
        .select(col("id_a"), col("id_b"), col("hamming").as("ham_a"),
          col("ham_d"))
        .orderBy("id_a", "id_b")),

    // The media-dedup story COMPLETED: q_m16's Hamming pairs → connected
    // components (iterative min-label propagation) → canonical cluster
    // label per media id — the q_d5 text-cluster shape on perceptual
    // hashes, so a chain of re-encodes (A~B, B~C, A!~C) still collapses
    // to one keeper. Oracle = the q_m16 hash replay + a recursive-CTE
    // label walk.
    "q_m18_image_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(m16Pairs(s, dir).select("id_a", "id_b"))
        .withColumnRenamed("id", "media_id")
        .orderBy("media_id")),

    // Mono mixdown + rational resample (r14 VERDICT #8): stereo 48 kHz
    // planted tones → mono 32 kHz through the REAL WAV container
    // (pcmWav → parseWav → pcmMonoResample), up/down = 2/3 so the
    // integer linear interpolation actually interpolates (odd output
    // positions sit halfway between sources). The oracle replays the
    // whole integer chain analytically — floorDiv mixdown, rational
    // position arithmetic, interp — over generate_series. Row-local
    // typed passes; the only exchange is the final orderBy.
    "q_m17_pcm_resample" -> ((s, dir) => {
      import s.implicits._
      Multimodal.pcmMonoResample(
          Multimodal.parseWav(m17Wavs(s, dir), "doc_id", "payload"), 32000)
        // quarantine discipline, not job failure (r15 ADVICE): an invalid
        // parse or zero-length WAV propagates as valid=false / n_samples=0
        // — skip it instead of indexing pcm at -1/-2 and killing the query
        .flatMap { r =>
          if (!r.valid || r.n_samples == 0L) None else Some(r)
        }
        .map { r =>
          val n = r.n_samples.toInt
          def s16(j: Int): Int =
            ((r.pcm(2 * j) & 0xff) | (r.pcm(2 * j + 1) << 8)).toShort.toInt
          var sum = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var j = 0
          while (j < n) {
            val v = s16(j)
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            j += 1
          }
          (r.id, n.toLong, sum, mn, mx, s16(0), s16(n - 1))
        }
        .toDF("doc_id", "n_out", "sum_out", "min_out", "max_out",
          "first_out", "last_out")
        .orderBy("doc_id")
    }),

    // Anti-alias FIR + decimation (r15 VERDICT #5): the q_m17 chain with
    // the windowed-sinc low-pass composed in front — 48 kHz mono carrying
    // a full-amplitude 24 kHz tone decimated to 16 kHz. Unfiltered, the
    // tone aliases into the output at FULL amplitude (decimation samples
    // it coherently); through the 63-tap integer FIR it must vanish —
    // peak_mid (max |sample| over the fully-overlapped interior) is that
    // receipt IN the graded output, ~1.5k (the surviving in-band block
    // wave) instead of ~3.5k. The oracle replays the exact integer
    // convolution with the coefficient table as literals.
    // AVI FRAME EXTRACTION + DIB decode (r17): real VIDEO container walk
    // graded end to end — hdrl/strl/strf headers, movi frame chunks, and
    // the uncompressed bottom-up BGR pixel layout all under one hash.
    // Each frame's pixels fold into a POSITION-WEIGHTED integer luma sum
    // ((f+1)·(y·W+x+1)·((77R+150G+29B)>>8)), so a frame-order swap, a
    // bottom-up/top-down confusion, a BGR/RGB swap, or a stride/pad
    // misread all change some doc's number. Every %37 doc is truncated
    // mid-frame and must surface as its quarantine reason, not a task
    // failure. One typed flatMap riding the scan; the only exchange is
    // the per-doc fold.
    "q_m22_avi_dib_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.aviFrames(m22Avis(s, dir), "doc_id", "payload")
        .map { fr =>
          if (!fr.valid) (fr.id, false, fr.reason, -1, 0L)
          else {
            val w = fr.width
            val h = fr.height
            val stride = ((w * 3 + 3) / 4) * 4
            var wsum = 0L
            var y = 0
            while (y < h) {
              val r = h - 1 - y // payload rows are bottom-up
              var x = 0
              while (x < w) {
                val base = r * stride + x * 3
                val bB = fr.payload(base) & 0xff
                val g = fr.payload(base + 1) & 0xff
                val rr = fr.payload(base + 2) & 0xff
                val lum = (77 * rr + 150 * g + 29 * bB) >> 8
                wsum += (fr.frame_index + 1).toLong * (y * w + x + 1) * lum
                x += 1
              }
              y += 1
            }
            (fr.id, true, fr.fourcc, fr.n_frames, wsum)
          }
        }
        .toDF("doc_id", "ok", "tag", "nf", "w")
        .groupBy("doc_id")
        .agg(
          max(when(col("ok"), col("nf")).otherwise(-1)).as("n_frames"),
          max(col("tag")).as("fourcc"),
          sum(when(col("ok"), col("w"))).as("wsum"))
        .orderBy("doc_id")
    }),

    // G.711 µ-law/A-law decode (r17, beside q_m20's ADPCM): the
    // STATELESS telephony codec — one byte, one sample — through the
    // same container walk, both companding branches graded in one hash.
    // The oracle replays the expansion formulas per (doc, t) as plain
    // row arithmetic (no recursion needed: G.711 carries no state), so
    // a complement/XOR slip, a segment-shift off-by-one, or the A-law
    // sign convention inverted (its sign bit means POSITIVE — the
    // opposite of µ-law) flips some doc's sum/min/max and fails.
    "q_m21_g711_decode" -> ((s, dir) => {
      import s.implicits._
      Multimodal.parseWavG711(m21Wavs(s, dir), "doc_id", "payload")
        .filter(_.valid)
        .map { r =>
          val bb = java.nio.ByteBuffer.wrap(r.pcm)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var sum = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var i = 0L
          while (i < r.n_samples) {
            val v = bb.getShort.toInt
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          (r.id, r.n_samples, sum, mn, mx)
        }
        .toDF("doc_id", "n_samples", "s_sum", "s_min", "s_max")
        .withColumn("codec",
          when(col("doc_id") % 2 === 0, "alaw").otherwise("ulaw"))
        .select("doc_id", "codec", "n_samples", "s_sum", "s_min", "s_max")
        .orderBy("doc_id")
    }),

    // IMA ADPCM decode (r16 VERDICT #8): real COMPRESSED audio through
    // the container walk + integer state machine of
    // [[Multimodal.parseWavAdpcm]], graded end to end — the oracle
    // replays the 4-bit IMA quantizer per sample in a recursive CTE from
    // the SAME public step/index tables (passed as SQL literals, the
    // q_m19 coefficient discipline), so a wrong table entry, a missed
    // clamp, a nibble-order swap, or a block-header misread changes the
    // running sum/min/max of some doc and fails the hash. One typed
    // decode pass riding the scan; the only exchange is the final sort.
    "q_m20_adpcm_decode" -> ((s, dir) => {
      import s.implicits._
      Multimodal.parseWavAdpcm(m20Wavs(s, dir), "doc_id", "payload")
        .filter(_.valid)
        .map { r =>
          val bb = java.nio.ByteBuffer.wrap(r.pcm)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var sum = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var i = 0L
          while (i < r.n_samples) {
            val v = bb.getShort.toInt
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          (r.id, r.n_samples, sum, mn, mx)
        }
        .toDF("doc_id", "n_samples", "s_sum", "s_min", "s_max")
        .orderBy("doc_id")
    }),

    "q_m19_antialias_resample" -> ((s, dir) => {
      import s.implicits._
      Multimodal.pcmMonoResample(
          Multimodal.parseWav(m19Wavs(s, dir), "doc_id", "payload"), 16000,
          antiAliasTaps = 63)
        .flatMap { r =>
          if (!r.valid || r.n_samples == 0L) None else Some(r)
        }
        .map { r =>
          val n = r.n_samples.toInt
          def s16(j: Int): Int =
            ((r.pcm(2 * j) & 0xff) | (r.pcm(2 * j + 1) << 8)).toShort.toInt
          var sum = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var peak = 0
          var j = 0
          while (j < n) {
            val v = s16(j)
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            if (j >= 11 && j <= 69 && math.abs(v) > peak) peak = math.abs(v)
            j += 1
          }
          (r.id, n.toLong, sum, mn, mx, peak)
        }
        .toDF("doc_id", "n_out", "sum_out", "min_out", "max_out", "peak_mid")
        .orderBy("doc_id")
    }),

    // Voice-activity detection on RAW PCM — real decode-free audio DSP
    // (s16le framing + exact integer energies), not a stub: segments =
    // runs of loud frames, energies exact LONGs. One typed scan pass.
    "q_m8_pcm_vad" -> ((s, dir) =>
      Multimodal.pcmVad(plantedPcm(s, dir), "doc_id", "pcm",
          samplesPerFrame = 4, energyFloor = 1000000L)
        .toDF()
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "seg_idx")),

    // Binary column metadata: byte length + first code point, computed from
    // an encoded binary payload (stand-in for image/audio blobs).
    "q_m1_binary_meta" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          col("text"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).cast("int").as("n_bytes"),
          ascii(substring(col("text"), 1, 1)).cast("int").as("first_code"))
        .orderBy("doc_id")),

    // Content-addressable media dedup: exact duplicate blobs found by a
    // sha-256 content key over the binary payload — the storage-side twin
    // of text dedup (re-uploaded media dedupes regardless of filename/id).
    // Re-uploads are planted in-query with shifted ids (the q_v10
    // pattern) so both engines derive the same corpus. One hash-key
    // shuffle of (key, id); payloads never co-locate.
    "q_m4_media_dedup" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      val reuploads = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("payload"))
      base.unionByName(reuploads)
        .withColumn("content_key", sha2(col("payload"), 256))
        .groupBy("content_key")
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
        .filter(col("n_copies") > 1)
        .select("keeper", "n_copies", "content_key")
        .orderBy("keeper")
    }),

    // Frame sampling for video payloads: n evenly-spaced byte windows per
    // video, checked by length AND content digest — the slicing arithmetic
    // is deterministic byte math, so the oracle reproduces it exactly
    // (documents are ASCII: byte offsets == char offsets).
    "q_m3_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(Tables.read(s, dir, "documents")),
          n = 4, frameBytes = 32)
        .toDF()
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).cast("int").as("frame_len"),
          md5(col("frame_bytes")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")),

    // Composition: decode media payloads to feature vectors (stub codec),
    // then rank by cosine similarity against media_id 0's features — the
    // full multimodal -> embedding -> similarity pipeline shape.
    // ORACLE-GREEN: stub features ARE SQL-expressible — per-bucket byte
    // sums are exact integers (< 2^24, so float32 accumulation is exact)
    // and DuckDB FLOAT/FLOAT division reproduces the float32 divisions
    // bit-for-bit; the oracle recomputes features + cosine + top-10.
    "q_m2_media_similarity" -> ((s, dir) => {
      val feats = Multimodal.decodeFeatures(
        Multimodal.mediaFromDocuments(Tables.read(s, dir, "documents")))
        .toDF().select(col("media_id"), col("features"))
      val query = feats.filter(col("media_id") === 0)
        .head().getSeq[Float](1).toArray
      SimilaritySearch.bruteForceTopK(feats.filter(col("media_id") =!= 0),
          "media_id", "features", query, 10)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("media_id"))
    }),

    // Image-text alignment filter (LAION/CLIP-score shape): stub-codec
    // features of the media payload vs the caption's features, scored by
    // CENTERED cosine (the shared-mean component makes raw cosines of
    // bucket-mean vectors all ~1 — see Multimodal.captionAlign), kept at
    // an exact 6-dp scaled-long floor. Misaligned pairs are planted
    // in-query: every 6th doc's caption comes from the REVERSED text —
    // same character distribution, different positional bucket profile —
    // so its fluctuation decorrelates from the payload's. The oracle
    // replays the feature math (q_m2 fv shape, twice), the centered
    // cosine in DOUBLE, and the integer floor.
    "q_m6_caption_align" -> ((s, dir) =>
      Multimodal.captionAlign(withPlantedCaptions(s, dir), "doc_id",
          "payload", "caption", floor6 = 200000L)
        .orderBy("media_id")),

    // Corpus-level alignment accounting (the drop-rate card a LAION-shape
    // build reviews before committing a floor): per planted class —
    // pair/keeper counts, kept caption mass, and the exact scaled-long
    // score mass of the keepers. One row-local score pass + a group-by-2.
    "q_m7_align_accounting" -> ((s, dir) =>
      Multimodal.captionAlign(withPlantedCaptions(s, dir), "doc_id",
          "payload", "caption", floor6 = 200000L)
        .withColumn("plant", (col("media_id") % 6 === 0).cast("int"))
        .groupBy("plant")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("aligned")).cast("long").as("n_aligned"),
          sum(when(col("aligned") === 1, col("caption_chars").cast("long"))
            .otherwise(lit(0L))).as("kept_caption_chars"),
          sum(when(col("aligned") === 1, col("align6"))
            .otherwise(lit(0L))).as("kept_align6_mass"))
        .orderBy("plant")),

    // Perceptual-hash media dedup: aHash (average hash — bit i set iff
    // stub-codec feature i sits above the payload's feature mean) groups
    // media whose CONTENT profile matches even when the bytes differ —
    // the perceptual twin of q_m4's content-addressed (sha) dedup.
    // Byte-different perceptual duplicates are planted in-query: every
    // 9th payload re-enters with the characters at positions 1 and 17
    // swapped — SAME feature bucket (mod 16), so every bucket sum (and
    // hence the aHash) is untouched while the exact content key changes.
    // n_byte_variants counts the planted members per group. One
    // hash-key shuffle; features and hashes ride the scan.
    "q_m5_perceptual_dedup" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .select("doc_id", "text")
      val variants = d
        .filter(col("doc_id") % 9 === 0 && length(col("text")) >= 17 &&
          expr("substring(text, 1, 1) != substring(text, 17, 1)"))
        .select((col("doc_id") + 800000L).as("doc_id"),
          expr("concat(substring(text, 17, 1), substring(text, 2, 15), " +
            "substring(text, 1, 1), substring(text, 18))").as("text"))
      val feats = Multimodal.decodeFeatures(
        Multimodal.mediaFromDocuments(d.unionByName(variants)))
        .toDF().select(col("media_id"), col("features"))
      val ahash = Dedup.letBind(
        "aggregate(features, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) / 16",
        "m",
        """aggregate(zip_with(features, sequence(0, 15), (f, i) ->
          |  IF(CAST(f AS DOUBLE) > m, shiftleft(CAST(1 AS BIGINT), i),
          |     CAST(0 AS BIGINT))),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
      feats.withColumn("ahash", expr(ahash))
        .groupBy("ahash")
        .agg(min("media_id").as("keeper"), count(lit(1)).as("n_copies"),
          sum((col("media_id") >= 800000L).cast("long")).as("n_byte_variants"))
        .filter(col("n_copies") >= 2)
        .select("keeper", "n_copies", "n_byte_variants")
        .orderBy("keeper")
    })
  )

  /** Per-pair alignment replay shared by the q_m6/q_m7 oracles: the
    * caption planting, the stub-codec feature math (q_m2 fv shape, once
    * per side), the centered cosine in DOUBLE, and the scaled-long floor.
    */
  private val duckCaptionScore: String =
    """WITH d AS (SELECT doc_id AS media_id, text,
        |             CASE WHEN doc_id % 6 = 0 THEN substr(reverse(text), 1, 96)
        |                  ELSE substr(text, 1, 96) END AS cap
        |           FROM documents),
        |tpos AS (SELECT media_id, unnest(generate_series(1, length(text))) AS i, text
        |         FROM d WHERE length(text) > 0),
        |tagg AS (SELECT media_id, (i - 1) % 16 AS bkt,
        |                sum(ascii(substr(text, CAST(i AS INT), 1))) AS s, count(*) AS c
        |         FROM tpos GROUP BY 1, 2),
        |cpos AS (SELECT media_id, unnest(generate_series(1, length(cap))) AS i, cap
        |         FROM d WHERE length(cap) > 0),
        |cagg AS (SELECT media_id, (i - 1) % 16 AS bkt,
        |                sum(ascii(substr(cap, CAST(i AS INT), 1))) AS s, count(*) AS c
        |         FROM cpos GROUP BY 1, 2),
        |grid AS (SELECT media_id, gb.b AS bkt FROM d, generate_series(0, 15) gb(b)),
        |tf AS (SELECT g.media_id,
        |              list(CAST(CAST(coalesce(a.s, 0) AS FLOAT) / CAST(coalesce(a.c, 1) AS FLOAT)
        |                        / CAST(255 AS FLOAT) AS FLOAT) ORDER BY g.bkt) AS f
        |       FROM grid g LEFT JOIN tagg a ON a.media_id = g.media_id AND a.bkt = g.bkt
        |       GROUP BY 1),
        |cf AS (SELECT g.media_id,
        |              list(CAST(CAST(coalesce(a.s, 0) AS FLOAT) / CAST(coalesce(a.c, 1) AS FLOAT)
        |                        / CAST(255 AS FLOAT) AS FLOAT) ORDER BY g.bkt) AS f
        |       FROM grid g LEFT JOIN cagg a ON a.media_id = g.media_id AND a.bkt = g.bkt
        |       GROUP BY 1),
        |m AS (SELECT tf.media_id, tf.f AS a, cf.f AS b
        |      FROM tf JOIN cf ON tf.media_id = cf.media_id),
        |mu AS (SELECT media_id, a, b,
        |              list_sum(list_transform(a, x -> CAST(x AS DOUBLE))) / 16 AS ma,
        |              list_sum(list_transform(b, x -> CAST(x AS DOUBLE))) / 16 AS mb
        |       FROM m),
        |sc AS (SELECT media_id,
        |              list_sum(list_transform(generate_series(1, 16),
        |                i -> (CAST(a[i] AS DOUBLE) - ma) * (CAST(b[i] AS DOUBLE) - mb))) AS num,
        |              list_sum(list_transform(a,
        |                x -> (CAST(x AS DOUBLE) - ma) * (CAST(x AS DOUBLE) - ma))) AS da2,
        |              list_sum(list_transform(b,
        |                x -> (CAST(x AS DOUBLE) - mb) * (CAST(x AS DOUBLE) - mb))) AS db2
        |       FROM mu),
        |fin AS (SELECT media_id,
        |               CAST(round(round(CASE WHEN da2 = 0 OR db2 = 0 THEN 0
        |                                     ELSE num / (sqrt(da2) * sqrt(db2)) END,
        |                          6) * 1000000) AS BIGINT) AS align6
        |        FROM sc)
        |SELECT d.media_id, CAST(length(d.cap) AS INTEGER) AS caption_chars,
        |       f.align6, CAST(f.align6 >= 200000 AS INTEGER) AS aligned
        |FROM d JOIN fin f ON d.media_id = f.media_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // exact integer replay of the anti-alias chain: the FIR coefficients
    // arrive as literals (the Q15 table IS the contract), the convolution
    // is zero-padded + floorDiv'd + clamped exactly like the kernel, and
    // decimation takes every 3rd filtered sample (up = 1). peak_mid's
    // presence in the hashed output makes "the 24 kHz tone vanished" a
    // driver-graded fact, not just a spec assertion.
    // analytic replay of the DIB pixel formula: payload row r = H-1-y,
    // BGR channel bytes from the modular arithmetic, integer luma,
    // position-and-frame-weighted sum per doc; %37 docs are the planted
    // truncation quarantine
    "q_m22_avi_dib_frames" ->
      """WITH px AS (
        |  SELECT doc_id, f.f, y.y, x.x, 3 - y.y AS r
        |  FROM documents,
        |       generate_series(0, 2) AS f(f),
        |       generate_series(0, 3) AS y(y),
        |       generate_series(0, 5) AS x(x)
        |  WHERE doc_id % 37 != 0),
        |lum AS (
        |  SELECT doc_id,
        |         sum((f + 1) * (y * 6 + x + 1) *
        |           ((77 * ((doc_id * 3 + f * 7 + r * 11 + x * 13 + 2 * 17) % 251)
        |             + 150 * ((doc_id * 3 + f * 7 + r * 11 + x * 13 + 1 * 17) % 251)
        |             + 29 * ((doc_id * 3 + f * 7 + r * 11 + x * 13 + 0 * 17) % 251))
        |            // 256)) AS wsum
        |  FROM px GROUP BY doc_id)
        |SELECT doc_id, 3 AS n_frames, 'DIB ' AS fourcc,
        |       CAST(wsum AS BIGINT) AS wsum
        |FROM lum
        |UNION ALL
        |SELECT doc_id, -1, 'chunk-overruns-file', CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY doc_id""".stripMargin,

    // per-sample replay of both G.711 expansion formulas — stateless,
    // so plain row arithmetic over (doc, t)
    "q_m21_g711_decode" ->
      """WITH raw AS (
        |  SELECT doc_id, g.t AS t, (doc_id * 11 + g.t * 29) % 256 AS bt
        |  FROM documents, generate_series(0, 199) AS g(t)),
        |dec AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN
        |      CASE WHEN (255 - bt) >= 128
        |        THEN -(((((255 - bt) % 16) * 8 + 132)
        |                << (((255 - bt) // 16) % 8)) - 132)
        |        ELSE ((((255 - bt) % 16) * 8 + 132)
        |                << (((255 - bt) // 16) % 8)) - 132
        |      END
        |    ELSE
        |      (CASE WHEN xor(bt, 85) >= 128 THEN 1 ELSE -1 END) *
        |      (CASE WHEN (xor(bt, 85) // 16) % 8 = 0
        |            THEN (xor(bt, 85) % 16) * 16 + 8
        |            ELSE ((xor(bt, 85) % 16) * 16 + 264)
        |                 << ((xor(bt, 85) // 16) % 8 - 1) END)
        |    END AS v
        |  FROM raw)
        |SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'alaw' ELSE 'ulaw' END AS codec,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(v) AS BIGINT) AS s_sum,
        |       CAST(min(v) AS INT) AS s_min,
        |       CAST(max(v) AS INT) AS s_max
        |FROM dec GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    // recursive-CTE replay of the IMA state machine: pure arithmetic per
    // step (list-literal table lookups, no joins in the recursive member
    // — the engine-gotcha rule), state = (pred, idx, running sum/min/max)
    "q_m20_adpcm_decode" -> {
      val stepList = Multimodal.AdpcmStepTable.mkString("[", ", ", "]")
      val idxList = Multimodal.AdpcmIndexTable.mkString("[", ", ", "]")
      s"""WITH RECURSIVE dec AS (
        |  SELECT doc_id, 0 AS t,
        |         CAST((doc_id % 1024) - 512 AS BIGINT) AS pred,
        |         CAST(doc_id % 40 AS BIGINT) AS idx,
        |         CAST((doc_id % 1024) - 512 AS BIGINT) AS s_sum,
        |         CAST((doc_id % 1024) - 512 AS BIGINT) AS s_min,
        |         CAST((doc_id % 1024) - 512 AS BIGINT) AS s_max
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, t + 1, np, ni, s_sum + np,
        |         least(s_min, np), greatest(s_max, np)
        |  FROM (
        |    SELECT doc_id, t, s_sum, s_min, s_max,
        |           greatest(-32768, least(32767,
        |             CASE WHEN nib >= 8 THEN pred - diff
        |                  ELSE pred + diff END)) AS np,
        |           greatest(0, least(88, idx + ($idxList)[nib + 1])) AS ni
        |    FROM (
        |      SELECT *,
        |             step // 8
        |               + CASE WHEN nib % 8 >= 4 THEN step ELSE 0 END
        |               + CASE WHEN nib % 4 >= 2 THEN step // 2 ELSE 0 END
        |               + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
        |               AS diff
        |      FROM (
        |        SELECT doc_id, t, pred, idx, s_sum, s_min, s_max,
        |               (doc_id * 7 + t * 13) % 16 AS nib,
        |               ($stepList)[idx + 1] AS step
        |        FROM dec WHERE t < 120)))
        |)
        |SELECT doc_id, CAST(121 AS BIGINT) AS n_samples, s_sum,
        |       CAST(s_min AS INT) AS s_min, CAST(s_max AS INT) AS s_max
        |FROM dec WHERE t = 120 ORDER BY doc_id""".stripMargin
    },

    "q_m19_antialias_resample" -> {
      val coeffVals = m19Coeffs.zipWithIndex
        .map { case (v, k) => s"($k, $v)" }.mkString(", ")
      val coeffSum = m19Coeffs.map(_.toLong).sum
      s"""WITH c(k, cv) AS (VALUES $coeffVals),
        |x AS (
        |  SELECT doc_id, g.t AS t,
        |         (CASE WHEN (g.t // 24) % 2 = 0 THEN 1500 ELSE -1500 END
        |          + CASE WHEN g.t % 2 = 0 THEN 2000 ELSE -2000 END
        |          + doc_id % 101 - 50) AS v
        |  FROM documents, generate_series(0, 239) AS g(t)),
        |f AS (
        |  SELECT d.doc_id, g.j AS j,
        |         GREATEST(-32768, LEAST(32767,
        |           CAST(floor(CAST(sum(x.v * c.cv) AS DOUBLE) / $coeffSum)
        |             AS BIGINT))) AS v
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 79) AS g(j)
        |  CROSS JOIN c
        |  LEFT JOIN x ON x.doc_id = d.doc_id AND x.t = g.j * 3 + c.k - 31
        |  GROUP BY d.doc_id, g.j)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_out,
        |       CAST(sum(v) AS BIGINT) AS sum_out,
        |       CAST(min(v) AS INT) AS min_out,
        |       CAST(max(v) AS INT) AS max_out,
        |       CAST(max(CASE WHEN j BETWEEN 11 AND 69 THEN abs(v) END) AS INT)
        |         AS peak_mid
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // analytic replay of the m9Pixel formula: pixel values → 2×2-block
    // (= 8×8-grid cell) sums → aHash (cell·64 > total, the equal-count
    // cross-multiplication) and dHash (right-neighbour compare) → groups.
    // The oracle never parses a BMP — the Spark side must DECODE its way
    // back to these numbers, so any row-order/BGR/luma defect mismatches.
    "q_m9_image_ahash_dedup" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id AS media_id, FALSE AS var FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id + 800000, TRUE FROM documents WHERE doc_id % 9 = 0),
        |px AS (
        |  SELECT media_id,
        |         ((p // 16) // 2) * 8 + (p % 16) // 2 AS cell,
        |         (doc_id * 31
        |          + (CASE WHEN var THEN (CASE WHEN p % 2 = 0 THEN p % 16 + 1
        |                                      ELSE p % 16 - 1 END)
        |                  ELSE p % 16 END) * 7
        |          + (p // 16) * 13) % 256 AS v
        |  FROM m, generate_series(0, 255) AS g(p)),
        |cells AS (SELECT media_id, cell, sum(v) AS s FROM px GROUP BY 1, 2),
        |tot AS (SELECT media_id, sum(s) AS t FROM cells GROUP BY 1),
        |-- bit 63 is the SIGN bit of the two's-complement LONG Spark
        |-- emits; DuckDB's checked 1<<63 overflows, so it contributes
        |-- -2^63 to the sum instead (at most once per media_id)
        |ah AS (SELECT c.media_id,
        |              CAST(sum(CASE WHEN c.s * 64 <= t.t THEN 0
        |                            WHEN c.cell = 63
        |                            THEN CAST(-9223372036854775807 AS BIGINT) - 1
        |                            ELSE (CAST(1 AS BIGINT) << CAST(c.cell AS INT))
        |                            END) AS BIGINT) AS ahash
        |       FROM cells c JOIN tot t USING (media_id) GROUP BY 1),
        |dh AS (SELECT a.media_id,
        |              CAST(sum(CASE WHEN a.s > b.s
        |                            THEN (CAST(1 AS BIGINT)
        |                                  << CAST((a.cell // 8) * 7 + a.cell % 8 AS INT))
        |                            ELSE 0 END) AS BIGINT) AS dhash
        |       FROM cells a
        |       JOIN cells b ON a.media_id = b.media_id AND b.cell = a.cell + 1
        |                   AND a.cell % 8 < 7
        |       GROUP BY 1),
        |h AS (SELECT ah.media_id, ah.ahash, dh.dhash
        |      FROM ah JOIN dh USING (media_id))
        |SELECT min(media_id) AS keeper, CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(sum(CASE WHEN media_id >= 800000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_byte_variants,
        |       ahash, dhash
        |FROM h GROUP BY ahash, dhash HAVING count(*) >= 2
        |ORDER BY keeper""".stripMargin,

    // replays the prefix-cycled 96-pixel image profile (6 pixels per
    // bucket, the gray-vector float32 divisions), the stub caption
    // profile, and the q_m6 centered-cosine/floor machinery
    "q_m10_image_caption_align" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |         substr(coalesce(text, ''), 1, 96) AS prefix,
        |         CASE WHEN doc_id % 6 = 0
        |              THEN substr(reverse(coalesce(text, '')), 1, 96)
        |              ELSE substr(coalesce(text, ''), 1, 96) END AS cap
        |  FROM documents),
        |ipos AS (SELECT media_id, g.p AS p, prefix
        |         FROM d, generate_series(0, 95) AS g(p)
        |         WHERE length(prefix) > 0),
        |iagg AS (SELECT media_id, p % 16 AS bkt,
        |                sum(ascii(substr(prefix,
        |                    CAST((p % length(prefix)) + 1 AS INT), 1))) AS s
        |         FROM ipos GROUP BY 1, 2),
        |grid AS (SELECT media_id, gb.b AS bkt FROM d, generate_series(0, 15) gb(b)),
        |mf AS (SELECT g.media_id,
        |              list(CAST(CAST(coalesce(a.s, 0) AS FLOAT) / CAST(6 AS FLOAT)
        |                        / CAST(255 AS FLOAT) AS FLOAT) ORDER BY g.bkt) AS f
        |       FROM grid g LEFT JOIN iagg a ON a.media_id = g.media_id AND a.bkt = g.bkt
        |       GROUP BY 1),
        |cpos AS (SELECT media_id, unnest(generate_series(1, length(cap))) AS i, cap
        |         FROM d WHERE length(cap) > 0),
        |cagg AS (SELECT media_id, (i - 1) % 16 AS bkt,
        |                sum(ascii(substr(cap, CAST(i AS INT), 1))) AS s, count(*) AS c
        |         FROM cpos GROUP BY 1, 2),
        |cf AS (SELECT g.media_id,
        |              list(CAST(CAST(coalesce(a.s, 0) AS FLOAT) / CAST(coalesce(a.c, 1) AS FLOAT)
        |                        / CAST(255 AS FLOAT) AS FLOAT) ORDER BY g.bkt) AS f
        |       FROM grid g LEFT JOIN cagg a ON a.media_id = g.media_id AND a.bkt = g.bkt
        |       GROUP BY 1),
        |m AS (SELECT mf.media_id, mf.f AS a, cf.f AS b
        |      FROM mf JOIN cf ON mf.media_id = cf.media_id),
        |mu AS (SELECT media_id, a, b,
        |              list_sum(list_transform(a, x -> CAST(x AS DOUBLE))) / 16 AS ma,
        |              list_sum(list_transform(b, x -> CAST(x AS DOUBLE))) / 16 AS mb
        |       FROM m),
        |sc AS (SELECT media_id,
        |              list_sum(list_transform(generate_series(1, 16),
        |                i -> (CAST(a[i] AS DOUBLE) - ma) * (CAST(b[i] AS DOUBLE) - mb))) AS num,
        |              list_sum(list_transform(a,
        |                x -> (CAST(x AS DOUBLE) - ma) * (CAST(x AS DOUBLE) - ma))) AS da2,
        |              list_sum(list_transform(b,
        |                x -> (CAST(x AS DOUBLE) - mb) * (CAST(x AS DOUBLE) - mb))) AS db2
        |       FROM mu),
        |fin AS (SELECT media_id,
        |               CAST(round(round(CASE WHEN da2 = 0 OR db2 = 0 THEN 0
        |                                     ELSE num / (sqrt(da2) * sqrt(db2)) END,
        |                          6) * 1000000) AS BIGINT) AS align6
        |        FROM sc)
        |SELECT d.media_id, CAST(length(d.cap) AS INTEGER) AS caption_chars,
        |       f.align6, CAST(f.align6 >= 200000 AS INTEGER) AS aligned
        |FROM d JOIN fin f ON d.media_id = f.media_id
        |ORDER BY d.media_id""".stripMargin,

    // expected segments = islands of set bits in doc_id's low byte
    // (gaps-and-islands over the 8 planted frames); loud-frame energy is
    // exactly 4e6 so segment mass is n_frames * 4e6
    // construction arithmetic only: brand/timescale/duration per doc_id,
    // the %19 truncation's deterministic defect (moov's declared size
    // always overruns the 40-byte cut), and the fixed 4-box census
    "q_m12_mp4_meta" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 19 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |         AS valid,
        |       CASE WHEN doc_id % 19 = 0 THEN 'box-overruns-file' ELSE '' END
        |         AS reason,
        |       CASE WHEN doc_id % 19 = 0 THEN ''
        |            WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END
        |         AS major_brand,
        |       CAST(CASE WHEN doc_id % 19 = 0 THEN 0
        |                 ELSE 600 * (1 + doc_id % 4) END AS BIGINT)
        |         AS timescale,
        |       CAST(CASE WHEN doc_id % 19 = 0 THEN 0
        |                 ELSE doc_id % 100000 + 1 END AS BIGINT) AS duration,
        |       CAST(CASE WHEN doc_id % 19 = 0 THEN 0 ELSE 4 END AS INTEGER)
        |         AS n_top_boxes
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every field is the construction arithmetic; invalid rows zero out
    "q_m14_flac_meta" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 17 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |         AS valid,
        |       CASE WHEN doc_id % 17 = 0 THEN 'truncated-block' ELSE '' END
        |         AS reason,
        |       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |            ELSE CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |                 WHEN 2 THEN 44100 ELSE 48000 END END AS INTEGER)
        |         AS sample_rate,
        |       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |                 ELSE doc_id % 2 + 1 END AS INTEGER) AS channels,
        |       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |                 ELSE 16 + doc_id % 3 END AS INTEGER) AS bits,
        |       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |                 ELSE (doc_id * 131) % 1000000 END AS BIGINT)
        |         AS total_samples,
        |       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |                 WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INTEGER)
        |         AS n_meta_blocks
        |FROM documents ORDER BY doc_id""".stripMargin,

    // frames/samples replay the construction; cbr = fixed-bitrate class
    // OR a single-frame stream (nothing to vary)
    "q_m15_mp3_census" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |         AS valid,
        |       CASE WHEN doc_id % 13 = 0 THEN 'no-sync' ELSE '' END AS reason,
        |       CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |            ELSE CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |                 ELSE 32000 END END AS INTEGER) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |                 ELSE doc_id % 7 + 1 END AS INTEGER) AS n_frames,
        |       CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |                 ELSE (doc_id % 7 + 1) * 1152 END AS BIGINT)
        |         AS n_samples,
        |       CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |                 WHEN doc_id % 2 = 0 OR doc_id % 7 = 0 THEN 1
        |                 ELSE 0 END AS INTEGER) AS cbr
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the q_m16 hash replay + recursive-CTE min-label walk (the q_d5
    // connected-components oracle discipline on perceptual-hash edges)
    "q_m18_image_dedup_clusters" ->
      s"""WITH RECURSIVE $m16HashCte,
        |pairs AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b
        |  FROM h a JOIN h b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
        |    AND bit_count(xor(a.dhash, b.dhash)) <= 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT id AS media_id, min(label) AS cluster
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,

    // analytic replay of the integer resample chain: floorDiv stereo
    // mixdown, rational position (num = j·down, i0 = num//up,
    // rem = num mod up), integer linear interp at up = 2, down = 3
    "q_m17_pcm_resample" ->
      """WITH pos AS (
        |  SELECT doc_id, g.j AS j, (g.j * 3) // 2 AS i0, (g.j * 3) % 2 AS rem
        |  FROM documents, generate_series(0, 63) AS g(j)),
        |m AS (
        |  SELECT doc_id, j, rem,
        |         CAST(floor((
        |             ((doc_id * 31 + i0 * 17) % 1201) * 27 - 16000
        |           + ((doc_id * 13 + i0 * 23) % 997) * 31 - 15000) / 2.0)
        |           AS BIGINT) AS m0,
        |         CAST(floor((
        |             ((doc_id * 31 + (i0 + 1) * 17) % 1201) * 27 - 16000
        |           + ((doc_id * 13 + (i0 + 1) * 23) % 997) * 31 - 15000) / 2.0)
        |           AS BIGINT) AS m1
        |  FROM pos),
        |o AS (
        |  SELECT doc_id, j,
        |         CASE WHEN rem = 0 THEN m0
        |              ELSE CAST(floor((m0 + m1) / 2.0) AS BIGINT) END AS v
        |  FROM m)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_out,
        |       CAST(sum(v) AS BIGINT) AS sum_out,
        |       CAST(min(v) AS INT) AS min_out,
        |       CAST(max(v) AS INT) AS max_out,
        |       CAST(min(CASE WHEN j = 0 THEN v END) AS INT) AS first_out,
        |       CAST(min(CASE WHEN j = 63 THEN v END) AS INT) AS last_out
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // analytic replay of m16Pixel (cells → aHash/dHash, the q_m9 CTE
    // discipline incl. the cell-63 sign-bit dance) followed by BRUTE
    // all-pairs Hamming <= 4 on both hashes — the exact semantics the
    // Spark side must reproduce through decode + banded pigeonhole join
    "q_m16_image_hamming_dedup" ->
      s"""WITH $m16HashCte
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS ham_a,
        |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS ham_d
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
        |  AND bit_count(xor(a.dhash, b.dhash)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    // every field is pure doc_id arithmetic — and gps_after_strip is a
    // constant 0: the strip must remove the GPS IFD from every parseable
    // payload or the reparse surfaces it
    "q_m13_exif_gps" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 19 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |         AS valid,
        |       CASE WHEN doc_id % 19 = 0 THEN 'truncated-tiff-header'
        |            ELSE '' END AS reason,
        |       CASE WHEN doc_id % 19 = 0 THEN ''
        |            WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |       CAST(CASE WHEN doc_id % 19 = 0 THEN -1
        |                 ELSE doc_id % 8 + 1 END AS INTEGER) AS orientation,
        |       CASE WHEN doc_id % 19 = 0 THEN ''
        |            ELSE '2024:01:' ||
        |                 lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |                 ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
        |                 ':00:00' END AS datetime,
        |       CAST(CASE WHEN doc_id % 19 != 0 AND doc_id % 3 = 0
        |                 THEN 1 ELSE 0 END AS INTEGER) AS has_gps,
        |       CAST(CASE WHEN doc_id % 19 != 0 AND doc_id % 3 = 0
        |                 THEN 4 ELSE 0 END AS INTEGER) AS n_gps_entries,
        |       CAST(0 AS INTEGER) AS gps_after_strip
        |FROM documents ORDER BY doc_id""".stripMargin,

    // header fields and corruption class are pure doc_id arithmetic;
    // segment count = runs of set bits (the q_m8 CTE), energy = popcount
    // of the low byte × the exact loud-frame energy
    "q_m11_wav_vad" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(unnest(generate_series(0, 7)) AS INTEGER) AS fr
        |  FROM documents),
        |s AS (SELECT doc_id, fr FROM f WHERE ((doc_id >> fr) & 1) = 1),
        |i AS (
        |  SELECT doc_id, fr,
        |         fr - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fr)
        |                   AS INTEGER) AS g
        |  FROM s),
        |seg AS (SELECT doc_id, count(DISTINCT g) AS n_segments,
        |               count(*) AS n_loud
        |        FROM i GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(CASE WHEN d.doc_id % 17 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |         AS valid,
        |       CASE WHEN d.doc_id % 17 = 0 THEN 'bad-magic' ELSE '' END
        |         AS reason,
        |       CAST(CASE WHEN d.doc_id % 17 = 0 THEN 0
        |                 ELSE 8000 + (d.doc_id % 3) * 4000 END AS INTEGER)
        |         AS sample_rate,
        |       CAST(CASE WHEN d.doc_id % 17 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |         AS channels,
        |       CAST(CASE WHEN d.doc_id % 17 = 0 THEN 0 ELSE 32 END AS BIGINT)
        |         AS n_samples,
        |       CAST(CASE WHEN d.doc_id % 17 = 0 THEN 0
        |                 ELSE coalesce(seg.n_segments, 0) END AS BIGINT)
        |         AS n_segments,
        |       CAST(CASE WHEN d.doc_id % 17 = 0 THEN 0
        |                 ELSE coalesce(seg.n_loud, 0) * 4000000 END AS BIGINT)
        |         AS energy
        |FROM documents d LEFT JOIN seg ON seg.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_m8_pcm_vad" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(unnest(generate_series(0, 7)) AS INTEGER) AS fr
        |  FROM documents),
        |s AS (SELECT doc_id, fr FROM f WHERE ((doc_id >> fr) & 1) = 1),
        |i AS (
        |  SELECT doc_id, fr,
        |         fr - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fr)
        |                   AS INTEGER) AS g
        |  FROM s),
        |seg AS (
        |  SELECT doc_id, min(fr) AS start_frame, max(fr) AS end_frame,
        |         CAST(count(*) AS INTEGER) AS n_frames
        |  FROM i GROUP BY doc_id, g)
        |SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
        |            - 1 AS INTEGER) AS seg_idx,
        |       start_frame, end_frame, n_frames,
        |       CAST(n_frames AS BIGINT) * 4000000 AS energy_sum
        |FROM seg ORDER BY doc_id, seg_idx""".stripMargin,
    "q_m1_binary_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |       CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_code
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_m4_media_dedup" ->
      """WITH all_media AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
        |g AS (
        |  -- sha256 of the VARCHAR hashes its UTF-8 bytes = the payload
        |  SELECT sha256(text) AS content_key, count(*) AS n_copies,
        |         min(doc_id) AS keeper
        |  FROM all_media GROUP BY 1)
        |SELECT keeper, n_copies, content_key FROM g
        |WHERE n_copies > 1 ORDER BY keeper""".stripMargin,

    // Mirrors Multimodal.sampleFrames byte arithmetic: kind = video when
    // doc_id % 3 = 2; stride = max(1, max(0, len-32) // 3); 4 frames.
    "q_m3_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len
        |  FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
        |f AS (
        |  SELECT media_id, text, len,
        |         greatest(1, greatest(0, len - 32) // 3) AS stride,
        |         unnest(generate_series(0, 3)) AS frame_idx
        |  FROM v),
        |g AS (
        |  SELECT media_id, frame_idx, text, len,
        |         least(frame_idx * stride, greatest(0, len - 1)) AS fstart
        |  FROM f)
        |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |       CAST(least(fstart + 32, len) - fstart AS INTEGER) AS frame_len,
        |       md5(substr(text, fstart + 1, least(fstart + 32, len) - fstart)) AS frame_md5
        |FROM g ORDER BY media_id, frame_idx""".stripMargin,

    // Mirrors Multimodal.StubCodec.features over ASCII payloads: bucket b of
    // 16 averages bytes at positions i ≡ b (mod 16). The byte sums are exact
    // integers (float32-exact below 2^24); the two float divisions
    // (sum/count, then /255) are replayed in FLOAT so every feature matches
    // Spark's float32 bit-for-bit; cosine then matches in DOUBLE. Selection
    // is by unrounded cosine with media_id tie-break (= bruteForceTopK).
    "q_m2_media_similarity" ->
      """WITH d AS (SELECT doc_id AS media_id, text, length(text) AS len FROM documents),
        |pos AS (SELECT media_id, unnest(generate_series(1, len)) AS i, text FROM d WHERE len > 0),
        |agg AS (SELECT media_id, (i - 1) % 16 AS bkt,
        |               sum(ascii(substr(text, CAST(i AS INT), 1))) AS s, count(*) AS c
        |        FROM pos GROUP BY 1, 2),
        |grid AS (SELECT media_id, gb.b AS bkt FROM d, generate_series(0, 15) gb(b)),
        |fv AS (SELECT g.media_id,
        |              list(CAST(CAST(coalesce(a.s, 0) AS FLOAT) / CAST(coalesce(a.c, 1) AS FLOAT)
        |                        / CAST(255 AS FLOAT) AS FLOAT) ORDER BY g.bkt) AS f
        |       FROM grid g LEFT JOIN agg a ON a.media_id = g.media_id AND a.bkt = g.bkt
        |       GROUP BY 1),
        |q AS (SELECT f AS qf FROM fv WHERE media_id = 0),
        |scored AS (
        |  SELECT media_id,
        |         list_sum(list_transform(generate_series(1, 16),
        |             i -> CAST(f[i] AS DOUBLE) * CAST(qf[i] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(f, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(qf, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM fv, q WHERE media_id != 0)
        |SELECT media_id, round(c, 6) AS cosine
        |FROM scored ORDER BY c DESC, media_id LIMIT 10""".stripMargin,

    // replays the caption planting, the stub-codec feature math (the q_m2
    // fv shape, once per side), the centered cosine in DOUBLE, and the
    // 6-dp scaled-long floor
    "q_m6_caption_align" ->
      s"$duckCaptionScore ORDER BY d.media_id",

    // the q_m6 per-pair replay grouped per planted class
    "q_m7_align_accounting" ->
      s"""WITH pairs AS ($duckCaptionScore)
         |SELECT CAST(media_id % 6 = 0 AS INTEGER) AS plant,
         |       count(*) AS n_pairs,
         |       CAST(sum(aligned) AS BIGINT) AS n_aligned,
         |       CAST(sum(CASE WHEN aligned = 1 THEN caption_chars
         |                     ELSE 0 END) AS BIGINT) AS kept_caption_chars,
         |       CAST(sum(CASE WHEN aligned = 1 THEN align6
         |                     ELSE 0 END) AS BIGINT) AS kept_align6_mass
         |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays the char-swap planting, the stub-codec feature math (the
    // q_m2 fv shape), the aHash bits, and the grouping
    "q_m5_perceptual_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 800000,
        |         substr(text, 17, 1) || substr(text, 2, 15)
        |           || substr(text, 1, 1) || substr(text, 18)
        |  FROM documents
        |  WHERE doc_id % 9 = 0 AND length(text) >= 17
        |    AND substr(text, 1, 1) != substr(text, 17, 1)),
        |d AS (SELECT doc_id AS media_id, text, length(text) AS len FROM planted),
        |pos AS (SELECT media_id, unnest(generate_series(1, len)) AS i, text FROM d WHERE len > 0),
        |agg AS (SELECT media_id, (i - 1) % 16 AS bkt,
        |               sum(ascii(substr(text, CAST(i AS INT), 1))) AS s, count(*) AS c
        |        FROM pos GROUP BY 1, 2),
        |grid AS (SELECT media_id, gb.b AS bkt FROM d, generate_series(0, 15) gb(b)),
        |fv AS (SELECT g.media_id,
        |              list(CAST(CAST(coalesce(a.s, 0) AS FLOAT) / CAST(coalesce(a.c, 1) AS FLOAT)
        |                        / CAST(255 AS FLOAT) AS FLOAT) ORDER BY g.bkt) AS f
        |       FROM grid g LEFT JOIN agg a ON a.media_id = g.media_id AND a.bkt = g.bkt
        |       GROUP BY 1),
        |h AS (
        |  SELECT media_id,
        |         list_sum(list_transform(generate_series(1, 16), i ->
        |           CASE WHEN CAST(f[i] AS DOUBLE) >
        |                     list_sum(list_transform(f, x -> CAST(x AS DOUBLE))) / 16
        |                THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
        |           AS ahash
        |  FROM fv)
        |SELECT min(media_id) AS keeper, count(*) AS n_copies,
        |       CAST(sum(CASE WHEN media_id >= 800000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_byte_variants
        |FROM h GROUP BY ahash HAVING count(*) >= 2
        |ORDER BY keeper""".stripMargin
  )
}
