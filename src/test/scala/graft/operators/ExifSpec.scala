package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** EXIF/TIFF metadata invariants: both endiannesses parse to identical
  * censuses, the JPEG APP1 wrapper resolves, every corrupt-IFD class is
  * a defect ROW (never a task failure), and the GPS strip surgically
  * zeroes coordinate bytes while leaving orientation/datetime — and the
  * image geometry — untouched. */
class ExifSpec extends SparkTestBase {
  import spark.implicits._

  private val dt = "2024:05:01 10:20:30"

  private def jpegWrap(tiff: Array[Byte]): Array[Byte] = {
    val app1Len = 2 + 6 + tiff.length
    val out = java.nio.ByteBuffer.allocate(4 + app1Len + 2)
    out.put(0xff.toByte).put(0xd8.toByte) // SOI
    out.put(0xff.toByte).put(0xe1.toByte) // APP1
      .putShort(app1Len.toShort)
      .put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
      .put(tiff)
    out.put(0xff.toByte).put(0xd9.toByte) // EOI
    out.array()
  }

  private def parse(payloads: (Long, Array[Byte])*): Map[Long, Multimodal.ExifMeta] =
    Multimodal.parseExif(payloads.toSeq.toDF("id", "payload"), "id", "payload")
      .collect().map(m => m.id -> m).toMap

  test("both endiannesses parse to the same census; JPEG APP1 wrapper resolves") {
    val le = Multimodal.tiffExif(little = true, 6, dt, Some((48.8584, 2.2945)))
    val be = Multimodal.tiffExif(little = false, 6, dt, Some((48.8584, 2.2945)))
    val noGps = Multimodal.tiffExif(little = true, 1, dt, None)
    val got = parse((1L, le), (2L, be), (3L, jpegWrap(le)), (4L, noGps))
    Seq(1L, 2L, 3L).foreach { id =>
      val m = got(id)
      assert(m.valid && m.orientation == 6 && m.datetime == dt, m.toString)
      assert(m.has_gps && m.n_gps_entries == 4 && m.n_ifd0_entries == 3)
    }
    assert(got(1L).byte_order == "II" && got(2L).byte_order == "MM")
    val m4 = got(4L)
    assert(m4.valid && !m4.has_gps && m4.n_ifd0_entries == 2 &&
      m4.orientation == 1 && m4.datetime == dt)
  }

  test("every corrupt-IFD class is a defect row, never a failure") {
    val good = Multimodal.tiffExif(little = true, 6, dt, Some((1.0, 2.0)))
    def mut(m: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); m(b); b
    }
    val cases: Seq[(Long, Array[Byte], String)] = Seq(
      (1L, "random bytes".getBytes, "not-tiff-or-jpeg"),
      (2L, mut(b => b(2) = 43), "bad-tiff-magic"),
      (3L, good.take(6), "truncated-tiff-header"),
      // IFD0 entry count inflated past the buffer
      (4L, mut(b => b(8) = 0xff.toByte), "ifd-overruns-file"),
      // out-of-line DateTime offset pointed past EOF (entry 1 value
      // slot is at 8 + 2 + 12 + 8 = 30)
      (5L, mut(b => b(30) = 0xff.toByte), "value-overruns-file"),
      // JPEG with no APP1
      (6L, Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte),
        "no-exif-segment"),
      // JPEG whose APP1 length overruns the file
      (7L, jpegWrap(good).take(20), "truncated-segment"))
    val got = parse(cases.map(c => (c._1, c._2)): _*)
    cases.foreach { case (id, _, reason) =>
      assert(!got(id).valid && got(id).reason == reason,
        s"id $id: got ${got(id).reason}, want $reason")
    }
  }

  test("GPS strip zeroes coordinates in place; census survives; idempotent") {
    val le = Multimodal.tiffExif(little = true, 6, dt, Some((48.8584, 2.2945)))
    val be = Multimodal.tiffExif(little = false, 3, dt, Some((-33.8568, 151.2153)))
    val noGps = Multimodal.tiffExif(little = true, 1, dt, None)
    val bad = "not an image".getBytes
    val out = Multimodal.stripExifGps(
        Seq((1L, le), (2L, be), (3L, noGps), (4L, bad)).toDF("id", "payload"),
        "id", "payload")
      .collect().map(r => r.id -> r).toMap
    assert(out(1L).gps_stripped && out(2L).gps_stripped)
    assert(out(3L).valid && !out(3L).gps_stripped &&
      java.util.Arrays.equals(out(3L).payload, noGps))
    assert(!out(4L).valid && java.util.Arrays.equals(out(4L).payload, bad),
      "unparseable payloads must pass through untouched")
    // the coordinate rationals are GONE from the bytes: 48.8584 * 1e6
    // little-endian must appear in the original and not in the strip
    def hasLeInt(b: Array[Byte], v: Int): Boolean =
      b.sliding(4).exists(w => (w(0) & 0xff) == (v & 0xff) &&
        (w(1) & 0xff) == ((v >> 8) & 0xff) &&
        (w(2) & 0xff) == ((v >> 16) & 0xff) &&
        (w(3) & 0xff) == ((v >> 24) & 0xff))
    assert(hasLeInt(le, 48858400) && !hasLeInt(out(1L).payload, 48858400))
    // reparse of the strip: no GPS, everything else intact
    val re = parse((1L, out(1L).payload), (2L, out(2L).payload))
    assert(re(1L).valid && !re(1L).has_gps && re(1L).orientation == 6 &&
      re(1L).datetime == dt && re(1L).n_ifd0_entries == 3)
    assert(re(2L).valid && !re(2L).has_gps && re(2L).orientation == 3)
    // idempotent: a second strip finds nothing to do
    val again = Multimodal.stripExifGps(
        Seq((1L, out(1L).payload)).toDF("id", "payload"), "id", "payload")
      .head()
    assert(again.valid && !again.gps_stripped &&
      java.util.Arrays.equals(again.payload, out(1L).payload))
  }

  test("curation gate counts stripped files (exifGpsStrip beside the PII redaction)") {
    val docs = (0 until 30).map { i =>
      val payload =
        if (i % 3 == 0) Multimodal.tiffExif(little = true, 1, dt, Some((1.5, 2.5)))
        else Multimodal.tiffExif(little = i % 2 == 0, 1, dt, None)
      (i.toLong, s"document number $i with enough words to pass the " +
        s"quality gate easily ${"filler " * 12}content-$i", payload)
    }.toDF("doc_id", "text", "img")
    val dir = tempDir("graft-exifcur")
    val report = Curation.curate(docs, s"$dir/out", seed = "exif-14",
      quality = Curation.QualityConfig(minTokens = 3),
      exifGpsStrip = Some("img"))
    assert(report.nGpsStripped == 10, report.toString)
    assert(report.nInput == 30)
    // and the written corpus carries NO gps coordinate bytes
    val packed = spark.read.parquet(s"$dir/out")
    if (packed.columns.contains("img")) {
      val leaked = Multimodal.parseExif(packed.select(col("doc_id"), col("img")),
        "doc_id", "img").filter(_.has_gps).count()
      assert(leaked == 0L)
    }
  }
}
