package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import graft.SparkTestBase

/** The RIFF/WAVE container defects shared by the PCM, IMA-ADPCM and
  * G.711 parsers: the same malformed container gives the same
  * quarantine reason from all three. */
class WavContainerSpec extends SparkTestBase {
  import spark.implicits._

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  /** `id(4) size(4 LE) body`, padded to even length; `declared`
    * overrides the size field. */
  private def chunk(id: String, body: Array[Byte],
                    declared: Option[Int] = None): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + body.length + (body.length & 1))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(ascii(id)).putInt(declared.getOrElse(body.length)).put(body)
    bb.array()
  }

  private def container(magic: String, form: String,
                        chunks: Array[Byte]*): Array[Byte] = {
    val body = chunks.flatten.toArray
    val bb = ByteBuffer.allocate(12 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(ascii(magic)).putInt(4 + body.length).put(ascii(form)).put(body)
    bb.array()
  }

  /** A 16-byte fmt body: mono 8 kHz, 16-bit PCM. */
  private val fmtBody: Array[Byte] = ByteBuffer.allocate(16)
    .order(ByteOrder.LITTLE_ENDIAN)
    .putShort(1.toShort).putShort(1.toShort).putInt(8000).putInt(16000)
    .putShort(2.toShort).putShort(16.toShort).array()

  private val defects: Seq[(Array[Byte], String)] = Seq(
    (null: Array[Byte]) -> "truncated-preamble",
    ascii("RIFF\u0000\u0000") -> "truncated-preamble",
    container("RIFX", "WAVE", chunk("fmt ", fmtBody)) -> "bad-magic",
    container("RIFF", "AVI ", chunk("fmt ", fmtBody)) -> "not-wave",
    container("RIFF", "WAVE",
      chunk("fmt ", fmtBody, declared = Some(1000))) -> "chunk-overruns-file",
    container("RIFF", "WAVE", chunk("fmt ", fmtBody.take(14))) -> "fmt-too-short",
    container("RIFF", "WAVE", chunk("data", Array[Byte](1, 2)),
      chunk("fmt ", fmtBody)) -> "data-before-fmt",
    container("RIFF", "WAVE", chunk("fmt ", fmtBody),
      chunk("LIST", ascii("INFO"))) -> "no-data-chunk",
    container("RIFF", "WAVE", chunk("LIST", ascii("INFO"))) -> "no-fmt-chunk")

  test("every container defect gives the same reason from parseWav, parseWavAdpcm and parseWavG711") {
    val df = defects.map(_._1).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("id", "payload")
    val want = defects.map(_._2)
    for ((name, parse) <- Seq("parseWav" -> Multimodal.parseWav _,
                              "parseWavAdpcm" -> Multimodal.parseWavAdpcm _,
                              "parseWavG711" -> Multimodal.parseWavG711 _)) {
      val got = parse(df, "id", "payload").collect().sortBy(_.id)
      assert(got.forall(!_.valid), name)
      assert(got.map(_.reason).toSeq == want, name)
    }
  }
}
