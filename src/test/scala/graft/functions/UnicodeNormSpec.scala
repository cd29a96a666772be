package graft.functions

import graft.SparkTestBase

/** NFC composition and accent stripping: canonical-equivalence collapse,
  * idempotence, null contract, and batch (codegen) evaluation via SQL.
  * The NFD/NFC literals are built with explicit \\u escapes — source-file
  * normalization must not be able to silently merge the two test inputs.
  */
class UnicodeNormSpec extends SparkTestBase {

  private val nfd = "café"   // 'e' + combining acute
  private val nfc = "caf\u00e9"   // precomposed 'é'

  test("NFD and NFC forms of the same word share one normalized key") {
    assert(nfd != nfc, "fixture must start from distinct forms")
    val r = spark.sql(
      s"""SELECT nfc_normalize('$nfd') = '$nfc',
         |       strip_accents('$nfd'), strip_accents('$nfc'),
         |       strip_accents('mühléisen'),
         |       strip_accents(nfc_normalize('plain ascii')),
         |       nfc_normalize(CAST(NULL AS STRING))
         |""".stripMargin).head()
    assert(r.getBoolean(0), "NFC must compose the combining acute")
    assert(r.getString(1) == "cafe" && r.getString(2) == "cafe")
    assert(r.getString(3) == "muhleisen")
    assert(r.getString(4) == "plain ascii")
    assert(r.isNullAt(5))
  }

  test("idempotence over a batch (whole-stage codegen path)") {
    import spark.implicits._
    val df = Seq(nfd, nfc, "naïve", "x").toDF("s")
    df.createOrReplaceTempView("norm_in")
    val rows = spark.sql(
      """SELECT strip_accents(nfc_normalize(s)) AS a,
        |       strip_accents(nfc_normalize(strip_accents(nfc_normalize(s)))) AS b
        |FROM norm_in""".stripMargin).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
    assert(rows.map(_.getString(0)).toSet == Set("cafe", "naive", "x"))
  }
}
