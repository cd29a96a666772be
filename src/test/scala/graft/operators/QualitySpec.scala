package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Rule-by-rule checks of the data-quality audit on a frame with planted
  * violations of every kind, plus the one-scan plan guarantee for
  * row-level rules.
  */
class QualitySpec extends SparkTestBase {

  import spark.implicits._

  private lazy val df = Seq(
    // (id, status, qty, score, code)
    (1L, "ok", 5.0, 0.5, "AB12"),
    (2L, "ok", -3.0, 0.2, "CD34"),       // negative qty
    (3L, "bad-status", 1.0, 0.9, "EF56"),// bad status
    (3L, "ok", 2.0, 1.5, "GH78"),        // dup id + out-of-range score
    (4L, null, 4.0, 0.0, "xx"),          // null status + bad code pattern
    (5L, "ok", 1.0, 0.3, "IJ90")
  ).toDF("id", "status", "qty", "score", "code")

  private def results(rules: Seq[Quality.Rule]): Map[String, Long] =
    Quality.audit(df, rules).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("row-level rules count planted violations") {
    val got = results(Seq(
      Quality.notNull("status"),
      Quality.nonNegative("qty"),
      Quality.inRange("score", 0.0, 1.0),
      Quality.acceptedValues("status", Seq("ok")),
      Quality.matches("code", "^[A-Z]{2}[0-9]{2}$")))
    assert(got == Map(
      "not_null(status)" -> 1L,
      "non_negative(qty)" -> 1L,
      "in_range(score)" -> 1L,
      // the null status must NOT also count as a bad value
      "accepted_values(status)" -> 1L,
      "matches(code)" -> 1L), s"got $got")
  }

  test("uniqueness counts all rows of duplicated keys; zero when unique") {
    val got = results(Seq(Quality.Unique(Seq("id"))))
    assert(got("unique(id)") == 2L, s"got $got")
    val ok = results(Seq(Quality.Unique(Seq("id", "code"))))
    assert(ok("unique(id,code)") == 0L, s"got $ok")
  }

  test("referential integrity counts orphan fact rows") {
    val dim = Seq(1L, 2L, 3L).toDF("dim_id")
    val got = results(Seq(Quality.RefIntegrity("id", dim, "dim_id")))
    assert(got("ref_integrity(id)") == 2L, s"got $got") // ids 4 and 5
  }

  test("row-level rules share a single scan of the input") {
    val audited = Quality.audit(
      spark.read.parquet(sfDir("0.001") + "/lineitem.parquet"),
      Seq(Quality.notNull("l_shipdate"), Quality.nonNegative("l_quantity"),
        Quality.inRange("l_discount", 0.0, 0.1)))
    audited.collect()
    val full = audited.queryExecution.executedPlan.toString
    // count scans in the final adaptive plan only (toString appends the
    // initial plan, which would double-count)
    val start = full.indexOf("== Final Plan ==")
    val end = full.indexOf("== Initial Plan ==")
    val p = if (start >= 0 && end > start) full.substring(start, end) else full
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly one scan for row-level rules, got $scans:\n$p")
  }

  test("observed audit rides along with the pipeline action, zero extra passes") {
    val rules = Seq(Quality.notNull("status"), Quality.nonNegative("qty"),
      Quality.inRange("score", 0.0, 1.0))
    val (passthrough, obs) = Quality.observed(df, rules)
    // rows are untouched
    assert(passthrough.columns.toSeq == df.columns.toSeq)
    // the metrics materialize with the job's own action (a write here)
    val out = tempDir("observed")
    passthrough.write.mode("overwrite").parquet(out)
    val metrics = obs.get
    assert(metrics("not_null(status)") == 1L)
    assert(metrics("non_negative(qty)") == 1L)
    assert(metrics("in_range(score)") == 1L)
    // and they agree with the standalone audit
    val standalone = results(rules)
    rules.foreach(r => assert(metrics(r.name) == standalone(r.name)))
  }

  test("kAnonymize suppresses quasi groups below k and only those") {
    import spark.implicits._
    val people = Seq(
      // (zip, age_band) quasi; value passes through
      ("94110", "30-40", 1L), ("94110", "30-40", 2L), ("94110", "30-40", 3L),
      ("94110", "20-30", 4L),                      // singleton -> suppressed
      ("10001", "30-40", 5L), ("10001", "30-40", 6L)) // pair, k=3 -> suppressed
      .toDF("zip", "age_band", "id")
    val out = Quality.kAnonymize(people, Seq("zip", "age_band"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("94110", "30-40", 1L), ("94110", "30-40", 2L), ("94110", "30-40", 3L),
      ("__SUPPRESSED__", "__SUPPRESSED__", 4L),
      ("__SUPPRESSED__", "__SUPPRESSED__", 5L),
      ("__SUPPRESSED__", "__SUPPRESSED__", 6L)))
    // every released group has >= k members by construction
    val released = Quality.kAnonymize(people, Seq("zip", "age_band"), k = 3)
      .filter(col("zip") =!= "__SUPPRESSED__")
      .groupBy("zip", "age_band").count().collect()
    assert(released.forall(_.getLong(2) >= 3))
  }

  test("dpNoisyCounts: seeded noise is deterministic, seed-sensitive, and bounded") {
    val docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
    def release(seed: String) =
      Quality.dpNoisyCounts(docs, Seq("lang"), epsilon = 1.0, seed = seed)
        .orderBy("lang")
        .collect().map(r => r.getString(0) -> r.getDouble(1))
    val a = release("graft-dp-test")
    // same seed -> bit-identical release (retries add the SAME noise)
    assert(a.toSeq == release("graft-dp-test").toSeq)
    // a different seed draws different noise on at least one group
    assert(a.toSeq != release("graft-dp-other").toSeq)
    // raw counts are not in the output schema
    val cols = Quality.dpNoisyCounts(docs, Seq("lang"), 1.0, "s").columns.toSeq
    assert(cols == Seq("lang", "noisy_n"))
    // Laplace(b=1) noise beyond |30| has probability e^-30 — a draw there
    // means the mechanism is broken, not unlucky
    val exact = docs.groupBy("lang").count().orderBy("lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.forall { case (lang, noisy) => math.abs(noisy - exact(lang)) < 30.0 })
    // and noise is actually applied (some group is off the integer count)
    assert(a.exists { case (lang, noisy) => noisy != exact(lang).toDouble })
  }

  test("winsorizeFlags: nearest-rank percentiles and exact flag boundaries") {
    // group g: values 1..20 -> p10 = value at ceil(0.1*20)=rank 2 = 2,
    // p90 = value at rank 18 = 18; low = {1}, high = {19, 20}
    val df = (1L to 20L).map(v => ("g", v)).toDF("grp", "v")
    val got = Quality.winsorizeFlags(df, "grp", "v", pLo = 0.1, pHi = 0.9)
      .groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("low" -> 1L, "keep" -> 17L, "high" -> 2L), got.toString)
    // tied values at the cut stay "keep" (comparison is by VALUE, not rank)
    val tied = (Seq.fill(5)(1L) ++ Seq.fill(10)(5L) ++ Seq.fill(5)(9L))
      .map(v => ("g", v)).toDF("grp", "v")
    // n=20: lo = value at rank 2 = 1 -> nothing < 1; hi = rank 18 = 9 ->
    // nothing > 9: winsorization never flags members of a boundary tie
    val t = Quality.winsorizeFlags(tied, "grp", "v", 0.1, 0.9)
      .groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map("keep" -> 20L), t.toString)
  }

  test("winsorizeFlags is partitioning-invariant per group") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
      .select(col("lang"), col("doc_id"), col("n_chars"))
    def agg(d: org.apache.spark.sql.DataFrame) =
      Quality.winsorizeFlags(d, "lang", "n_chars", 0.05, 0.95)
        .groupBy("lang", "status").count()
        .orderBy("lang", "status").collect().toSeq
    assert(agg(docs) == agg(docs.repartition(7)))
  }
}
