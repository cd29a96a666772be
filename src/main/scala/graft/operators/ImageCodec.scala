package graft.operators

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** REAL image decode for the multimodal layer (r12 VERDICT #1): the JDK
  * ships `javax.imageio` readers for PNG/JPEG/BMP/GIF/WBMP — offline,
  * public, zero new dependencies — so the image branch no longer runs on
  * [[Multimodal.StubCodec]]. The stub stays where it is, as the executable
  * spec behind the q_m2/m5/m6/m7 oracle replays (the UrlCanon discipline:
  * the simple form pins the semantics, the kernel does the work); the
  * REAL-pixel twins are q_m9 (perceptual dedup over decoded luma) and
  * q_m10 (caption alignment over decoded pixels).
  *
  * == What is computed ==
  *
  *  - '''decode''': `ImageIO.read` over the payload bytes — BMP row order
  *    (bottom-up), channel order (BGR), padding, and PNG/JPEG entropy
  *    coding are all the decoder's problem; downstream math sees a
  *    top-down raster of ARGB pixels.
  *  - '''luma grid''': per-pixel integer luma `299·R + 587·G + 114·B`
  *    (ITU-R BT.601 coefficients ×1000 — EXACT integers, no float, so
  *    every downstream comparison is engine-replayable), summed per cell
  *    of a `gridW × gridH` partition of the image (pixel (x, y) lands in
  *    cell `(⌊x·gridW/W⌋, ⌊y·gridH/H⌋)` — exact halves/quarters when the
  *    dimensions divide, near-equal bands otherwise).
  *  - '''aHash''' (average hash) / '''dHash''' (difference hash) — the
  *    public perceptual-hash family (Krawetz's "Kind of Like That"
  *    construction): aHash bit `gy·gridW+gx` is set iff the cell's MEAN
  *    luma exceeds the image's mean; dHash bit `gy·(gridW-1)+gx` iff cell
  *    `(gy,gx)`'s mean exceeds its right neighbour's. Means are compared
  *    by integer cross-multiplication (`sumA·nB > sumB·nA`, BigInt so a
  *    4096² image cannot overflow) — bit-exact, never a float.
  *
  * == Scale shape ==
  *
  * One partition-preserving typed pass ([[Multimodal.decodeFeatures]]'s
  * posture): payloads never co-locate, never shuffle, never touch the
  * driver; output rows are grid-sized (≤ a few hundred bytes). At 100 TB
  * the decode rides the scan of the image lake; the only exchange in a
  * dedup built on it is the hash-keyed groupBy of (hash, id) pairs.
  * Undecodable payloads (truncated files, non-images) surface as
  * `decoded = false` rows — dropped by the caller's filter, never a
  * task failure killing the scan.
  */
object ImageCodec {

  /** One decoded image: luma-grid block sums (exact integers, row-major),
    * per-cell pixel counts, and the two perceptual hashes. Undecodable
    * payloads yield `decoded = false` and zeroed fields. */
  final case class DecodedImage(media_id: Long, decoded: Boolean,
                                width: Int, height: Int,
                                grid: Array[Long], grid_n: Array[Int],
                                ahash: Long, dhash: Long)

  /** Decode an image payload column and reduce each image to its luma
    * grid + aHash/dHash. `gridW * gridH ≤ 64` so aHash fits one LONG. */
  def decodeImages(df: DataFrame, idCol: String, payloadCol: String,
                   gridW: Int = 8, gridH: Int = 8): Dataset[DecodedImage] = {
    // (gridW * gridH <= 64 with gridH >= 1 also bounds gridW <= 64, which
    // keeps dHash's gridW-1 bits inside one LONG)
    require(gridW >= 1 && gridH >= 1 && gridW * gridH <= 64,
      s"grid must have 1..64 cells for a LONG aHash, got ${gridW}x$gridH")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          decodeOne(id, payload, gridW, gridH)
        }
      }
  }

  /** ImageIO decode with the totality guard: null on ANY failure (empty,
    * truncated, or hostile payloads must become `decoded = false` rows,
    * never task failures). The ONE decode entry point — every operator
    * in this file goes through it. */
  private def decode(payload: Array[Byte]): java.awt.image.BufferedImage =
    try {
      if (payload == null || payload.isEmpty) null
      else ImageIO.read(new ByteArrayInputStream(payload))
    } catch { case scala.util.control.NonFatal(_) => null }

  /** The stub-contract gray feature vector of a decoded image: BT.601
    * integer luma per pixel (for r=g=b images exactly the channel byte),
    * position-mod-dim bucket means, /255 at the edge, in the stub's exact
    * float32 arithmetic. An image whose pixels are a byte stream features
    * exactly like [[Multimodal.StubCodec.features]] over that stream —
    * q_m10's oracle leans on this. */
  private def grayVector(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Float](dim)
    val counts = new Array[Int](dim)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val p = row(x)
        val gray = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
          114 * (p & 0xff)) / 1000
        val b = (y * w + x) % dim
        out(b) += gray
        counts(b) += 1
        x += 1
      }
      y += 1
    }
    var j = 0
    while (j < dim) {
      if (counts(j) > 0) out(j) = out(j) / counts(j) / 255.0f
      j += 1
    }
    out
  }

  /** The ONE luma-grid kernel (r14 review: two copies of the BT.601 /
    * binning arithmetic would have to stay bit-identical for hashes to
    * compare across decode paths). */
  private[operators] def decodeOne(id: Long, payload: Array[Byte],
                                   gridW: Int, gridH: Int): DecodedImage = {
    val img = decode(payload)
    if (img == null)
      return DecodedImage(id, decoded = false, 0, 0,
        Array.empty[Long], Array.empty[Int], 0L, 0L)
    val w = img.getWidth
    val h = img.getHeight
    val grid = new Array[Long](gridW * gridH)
    val gridN = new Array[Int](gridW * gridH)
    // bulk ARGB fetch: one row at a time keeps the buffer row-sized for
    // arbitrarily tall images
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      val gy = y * gridH / h
      var x = 0
      while (x < w) {
        val p = row(x)
        val luma1000 = 299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
          114 * (p & 0xff)
        val cell = gy * gridW + x * gridW / w
        grid(cell) += luma1000
        gridN(cell) += 1
        x += 1
      }
      y += 1
    }
    DecodedImage(id, decoded = true, w, h, grid, gridN,
      ahash(grid, gridN), dhash(grid, gridN, gridW))
  }

  /** aHash over an already-computed luma grid: bit i set iff cell i's mean
    * exceeds the whole-image mean. Cross-multiplied in BigInt — exact for
    * any image size. */
  def ahash(grid: Array[Long], gridN: Array[Int]): Long = {
    var totalSum = BigInt(0); var totalN = 0L
    var i = 0
    while (i < grid.length) { totalSum += grid(i); totalN += gridN(i); i += 1 }
    var bits = 0L
    i = 0
    while (i < grid.length) {
      if (gridN(i) > 0 && BigInt(grid(i)) * totalN > totalSum * gridN(i))
        bits |= 1L << i
      i += 1
    }
    bits
  }

  /** dHash: bit `gy*(gridW-1)+gx` set iff cell (gy,gx)'s mean exceeds its
    * right neighbour's — the gradient-direction hash, robust to global
    * brightness shifts aHash is sensitive to. */
  def dhash(grid: Array[Long], gridN: Array[Int], gridW: Int): Long = {
    val gridH = grid.length / gridW
    var bits = 0L
    var gy = 0
    while (gy < gridH) {
      var gx = 0
      while (gx < gridW - 1) {
        val a = gy * gridW + gx
        val b = a + 1
        if (gridN(a) > 0 && gridN(b) > 0 &&
            BigInt(grid(a)) * gridN(b) > BigInt(grid(b)) * gridN(a))
          bits |= 1L << (gy * (gridW - 1) + gx)
        gx += 1
      }
      gy += 1
    }
    bits
  }

  /** REAL-pixel caption alignment pairs (the [[Multimodal
    * .captionFeaturePairs]] twin with the image side decoded, not
    * stubbed): ONE partition-preserving typed pass computes the media
    * features from `ImageIO`-decoded pixels (`grayVector`) and the
    * caption features from [[Multimodal.StubCodec]] over the caption
    * bytes — payloads and captions never shuffle, and
    * [[Multimodal.alignmentScore6]] scores the pair row-locally
    * downstream. Undecodable payloads feature as zero vectors (centered
    * cosine 0 → never "aligned"). */
  def imageCaptionPairs(df: DataFrame, idCol: String, payloadCol: String,
                        captionCol: String, dim: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol),
        coalesce(col(captionCol), lit("")))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, payload, caption) =>
          val img = decode(payload)
          val mf =
            if (img == null) new Array[Float](dim)
            else grayVector(img, dim)
          val cap = if (caption == null) "" else caption
          (id, cap.length, mf,
            Multimodal.StubCodec.features(
              cap.getBytes(java.nio.charset.StandardCharsets.UTF_8), dim))
        }
      }
      .toDF("media_id", "caption_chars", "media_feats", "caption_feats")
  }

  /** A minimal uncompressed 24-bit BMP (the public BITMAPINFOHEADER
    * layout: 54-byte header, bottom-up rows, BGR channel order, rows
    * padded to 4 bytes) holding GRAY pixels — `pixels(y*width + x)` in
    * TOP-DOWN raster order, each 0..255, written to all three channels.
    *
    * This is the planted-construction generator for q_m9/q_m10 (both
    * engines derive the pixel stream from doc_id arithmetic; only the
    * Spark side round-trips it through real encode + ImageIO decode, so a
    * decode bug — row order, channel order, padding — fails the oracle
    * hash) and the fixture builder for ImageCodecSpec. Header arithmetic
    * is fixed, so an analytic oracle can replay the layout if it ever
    * needs the bytes themselves. */
  def grayBmp(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == width * height,
      s"need ${width * height} pixels, got ${pixels.length}")
    val rowBytes = (width * 3 + 3) / 4 * 4
    val dataSize = rowBytes * height
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height) // positive height: bottom-up
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // file rows bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val v = (pixels(y * width + x) & 0xff).toByte
        b.put(v).put(v).put(v) // BGR — equal channels for gray
        x += 1
      }
      var pad = rowBytes - width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }
}
