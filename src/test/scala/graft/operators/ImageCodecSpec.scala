package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.SparkTestBase

/** Real-codec fixture leg for the image branch (r12 VERDICT #1 done-
  * criteria): genuine PNG/JPEG/BMP bytes — PNG and BMP written by
  * `ImageIO.write`/our own builder and decoded back bit-exactly; JPEG
  * decoded structurally (lossy, so pixel equality is not the contract).
  * The q_m9/q_m10 oracles prove decode exactness analytically; this spec
  * proves the codec handles the real container formats a 100 TB image
  * lake actually holds.
  */
class ImageCodecSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic RGB test card: channels vary on different axes so a
    * channel-order bug (RGB vs BGR) or a row-order bug (top-down vs
    * bottom-up) shifts the luma grid. */
  private def card(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 17 + 3) % 256
      val g = (y * 29 + 7) % 256
      val b = (x * 5 + y * 11) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  /** The grid the decoder must reproduce, computed from the
    * BufferedImage directly (no container round-trip). */
  private def directGrid(img: BufferedImage, gw: Int, gh: Int): (Array[Long], Array[Int]) = {
    val grid = new Array[Long](gw * gh)
    val n = new Array[Int](gw * gh)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val p = img.getRGB(x, y)
      val luma = 299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)
      val cell = (y * gh / img.getHeight) * gw + x * gw / img.getWidth
      grid(cell) += luma
      n(cell) += 1
    }
    (grid, n)
  }

  test("PNG round-trip: decoded luma grid is bit-exact vs the source image") {
    val img = card(40, 24) // dims NOT divisible by 8: exercises band edges
    val png = encode(img, "png")
    val (wantGrid, wantN) = directGrid(img, 8, 8)
    val got = ImageCodec.decodeImages(
        Seq((1L, png)).toDF("id", "payload"), "id", "payload")
      .collect().head
    assert(got.decoded && got.width == 40 && got.height == 24)
    assert(got.grid.toSeq == wantGrid.toSeq, "PNG is lossless: grid must match exactly")
    assert(got.grid_n.toSeq == wantN.toSeq)
    assert(got.ahash == ImageCodec.ahash(wantGrid, wantN))
    assert(got.dhash == ImageCodec.dhash(wantGrid, wantN, 8))
  }

  test("our BMP builder round-trips through ImageIO: bottom-up rows and BGR handled") {
    // asymmetric pixel ramp: any row-order or channel-order confusion in
    // EITHER the builder or the decoder breaks grid equality
    val w = 10; val h = 6 // rowBytes = 32 (padded from 30): padding exercised
    val px = Array.tabulate(w * h)(p => (p * 37 + 11) % 256)
    val bmp = ImageCodec.grayBmp(w, h, px)
    val got = ImageCodec.decodeImages(
        Seq((1L, bmp)).toDF("id", "payload"), "id", "payload", gridW = 2, gridH = 2)
      .collect().head
    assert(got.decoded && got.width == w && got.height == h)
    val want = new Array[Long](4); val wantN = new Array[Int](4)
    for (y <- 0 until h; x <- 0 until w) {
      val cell = (y * 2 / h) * 2 + x * 2 / w
      want(cell) += 1000L * px(y * w + x) // gray: luma1000 = 1000·v exactly
      wantN(cell) += 1
    }
    assert(got.grid.toSeq == want.toSeq)
    assert(got.grid_n.toSeq == wantN.toSeq)
  }

  test("JPEG decodes structurally; lossy pixels still perceptually match the source") {
    val img = card(64, 64)
    val jpg = encode(img, "jpg")
    val (wantGrid, wantN) = directGrid(img, 8, 8)
    val got = ImageCodec.decodeImages(
        Seq((1L, jpg)).toDF("id", "payload"), "id", "payload")
      .collect().head
    assert(got.decoded && got.width == 64 && got.height == 64)
    // JPEG is lossy — the contract is perceptual: the aHash of the
    // decoded pixels stays within a small Hamming distance of the
    // source's (the property perceptual dedup actually relies on)
    val hd = java.lang.Long.bitCount(got.ahash ^ ImageCodec.ahash(wantGrid, wantN))
    assert(hd <= 4, s"JPEG aHash drifted $hd bits from the source")
    assert(got.grid_n.toSeq == wantN.toSeq, "pixel counts are lossless")
  }

  test("undecodable payloads surface as decoded=false rows, never task failures") {
    val rows = Seq(
      (1L, Array[Byte](1, 2, 3, 4)),             // garbage
      (2L, "not an image at all".getBytes("UTF-8")),
      (3L, Array.emptyByteArray),                 // empty
      (4L, ImageCodec.grayBmp(4, 4, Array.fill(16)(128))), // valid among them
      (5L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "payload")
    val got = ImageCodec.decodeImages(rows, "id", "payload")
      .collect().map(d => d.media_id -> d.decoded).toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true, 5L -> false))
  }

  test("perceptual duplicates: in-cell pixel swaps preserve aHash/dHash while bytes differ") {
    val base = Array.tabulate(256)(p => ((p % 16) * 7 + (p / 16) * 13 + 5) % 256)
    val swapped = Array.tabulate(256) { p =>
      val x = p % 16; val y = p / 16
      base(y * 16 + (x ^ 1)) // horizontal neighbour swap inside 2x2 blocks
    }
    val a = ImageCodec.grayBmp(16, 16, base)
    val b = ImageCodec.grayBmp(16, 16, swapped)
    assert(!java.util.Arrays.equals(a, b), "variant must be byte-different")
    val got = ImageCodec.decodeImages(
        Seq((1L, a), (2L, b)).toDF("id", "payload"), "id", "payload")
      .collect().sortBy(_.media_id)
    assert(got(0).ahash == got(1).ahash && got(0).dhash == got(1).dhash,
      "2x2-block-preserving swap must not move either perceptual hash")
    assert(got(0).grid.toSeq == got(1).grid.toSeq)
  }
}
