package graft.streaming


import graft.SparkTestBase
import graft.operators.Curation
import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** r11 VERDICT #5 done-criteria: two streamed waves produce EXACTLY the
  * batch [[Curation.curate]] survivor set (ids AND split labels) on the
  * same corpus; a crash-replayed wave converges bit-identically instead of
  * doubling; and the one documented semantic divergence (chain-shaped
  * near-dup components, which an append-only stream cannot retract) is
  * pinned by construction rather than hidden.
  */
class ContinuousCurationSpec extends SparkTestBase {
  import spark.implicits._

  /** sf0.001 docs with a planted URL layer: every 3 consecutive ids share
    * one page URL (URL-dup groups crossing the wave boundary), page hosts
    * rotate over 7 registered domains (one blocked), and doc_id % 11 == 5
    * docs carry a punctuation-adjacent blocklisted word. */
  private def planted: DataFrame =
    spark.read.parquet(sfDir("0.001") + "/documents.parquet")
      .withColumn("url", expr(
        "concat('https://h.ex', (doc_id div 3) % 7, '.net/page/', doc_id div 3)"))
      .withColumn("text",
        when(col("doc_id") % 11 === 5, concat(col("text"), lit(" zzqx1,")))
          .otherwise(col("text")))
      .select("doc_id", "url", "text")

  private def blockedDomains = Seq("ex3.net").toDF("domain")
  private def blockedWords = Seq("zzqx1").toDF("word")
  private val seed = "cc-spec-12"

  private def batchSurvivors(docs: DataFrame): Set[(Long, String)] = {
    val out = tempDir("graft-cc-batch")
    Curation.curate(docs, out, seed = seed,
      urlCol = Some("url"), domainBlocklist = Some(blockedDomains),
      wordBlocklist = Some(blockedWords))
    spark.read.parquet(out).select("doc_id", "split").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
  }

  private def streamedSurvivors(work: String): Set[(Long, String)] =
    spark.read.parquet(s"$work/out").select("doc_id", "split").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def wave(docs: DataFrame, batchId: Long, work: String): ContinuousCuration.WaveReport =
    ContinuousCuration.curateWave(docs, batchId, work, "url",
      Some(blockedDomains), Some(blockedWords), Curation.QualityConfig(),
      nearDupThreshold = 0.7,
      splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
      seed = seed)

  test("two id-ordered waves ≡ one batch Curation.curate (ids and splits)") {
    val docs = planted.localCheckpoint()
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val work = tempDir("graft-cc-stream")
    val r1 = wave(docs.filter(col("doc_id") <= mid), 0L, work)
    val r2 = wave(docs.filter(col("doc_id") > mid), 1L, work)
    assert(r1.nInput + r2.nInput == docs.count())
    // every stateful stage actually dropped something ACROSS the wave
    // boundary (otherwise the test degenerates to two independent runs):
    // wave-2 URL dups of wave-1 pages exist by construction (3-id groups
    // straddle any median cut)
    assert(r2.nAfterUrl < r2.nInput, "wave 2 dropped no URL dups")
    val streamed = streamedSurvivors(work)
    val batch = batchSurvivors(docs)
    val onlyS = streamed -- batch
    val onlyB = batch -- streamed
    assert(streamed == batch,
      s"survivor sets diverge: stream-only=$onlyS batch-only=$onlyB")
    // audit rows landed per wave
    val audits = spark.read.parquet(s"$work/audit")
    assert(audits.count() == 2)
  }

  test("crash-replay converges: re-running a wave is bit-identical, never doubled") {
    val docs = planted.localCheckpoint()
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val w1 = docs.filter(col("doc_id") <= mid)
    val w2 = docs.filter(col("doc_id") > mid)

    val clean = tempDir("graft-cc-clean")
    wave(w1, 0L, clean); wave(w2, 1L, clean)

    val crashy = tempDir("graft-cc-crash")
    wave(w1, 0L, crashy)
    wave(w1, 0L, crashy) // replay after a simulated post-write crash
    wave(w2, 1L, crashy)
    wave(w2, 1L, crashy) // and replay the second wave too

    assert(streamedSurvivors(crashy) == streamedSurvivors(clean))
    // row-level (not just set-level): replay overwrote its own partitions
    assert(spark.read.parquet(s"$crashy/out").count() ==
      spark.read.parquet(s"$clean/out").count())
    for (idx <- Seq("url_index", "norm_index", "lsh_index", "audit"))
      assert(spark.read.parquet(s"$crashy/$idx").count() ==
        spark.read.parquet(s"$clean/$idx").count(), s"$idx diverged on replay")
  }

  test("exactly-once through the real stream front door (AvailableNow, two arrivals)") {
    val docs = planted.localCheckpoint()
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val src = tempDir("graft-cc-src")
    val work = tempDir("graft-cc-work")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("url", StringType), StructField("text", StringType)))
    def run(): Unit = ContinuousCuration.runAvailableNow(spark, src, schema,
      work, "url", Some(blockedDomains), Some(blockedWords), seed = seed)
    docs.filter(col("doc_id") <= mid).write.mode("append").json(src)
    run()
    docs.filter(col("doc_id") > mid).write.mode("append").json(src)
    run()
    run() // third run with nothing new: must be a no-op, not a reprocess
    assert(streamedSurvivors(work) == batchSurvivors(docs))
  }

  test("snapshotOut: each wave is one atomic versioned commit; replay rolls forward, history time-travels") {
    val docs = planted.localCheckpoint()
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val work = tempDir("graft-cc-snap")
    def waveSnap(d: DataFrame, b: Long) =
      ContinuousCuration.curateWave(d, b, work, "url", Some(blockedDomains),
        Some(blockedWords), Curation.QualityConfig(), 0.7,
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05), seed,
        snapshotOut = true)
    val r1 = waveSnap(docs.filter(col("doc_id") <= mid), 0L)
    waveSnap(docs.filter(col("doc_id") <= mid), 0L) // crash-replay: no double-append
    val r2 = waveSnap(docs.filter(col("doc_id") > mid), 1L)
    val table = s"$work/out"
    assert(SnapshotTable.currentVersion(table).contains(2L))
    val v1 = SnapshotTable.readSnapshot(spark, table, Some(1L))
    val v2 = SnapshotTable.readSnapshot(spark, table, Some(2L))
    assert(v1.count() == r1.nAfterNearDedup, "wave-1 snapshot ≠ wave-1 survivors")
    assert(v2.count() == r1.nAfterNearDedup + r2.nAfterNearDedup)
    // the versioned corpus equals the batch build (same survivors/splits)
    val snapped = v2.select("doc_id", "split").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snapped == batchSurvivors(docs))
  }

  test("documented divergence class: chain-shaped near-dup components (no retraction in append mode)") {
    // shingle-set construction: J(1,3)=99/129≈0.767 and J(2,3)=98/130≈0.754
    // are pairs at threshold 0.7; J(1,2)=69/129≈0.535 is NOT. Component
    // {1,2,3} is a CHAIN through 3: batch connected-components keeps the
    // min {1}; the stream (same rule within one wave) cannot retract doc 2
    // — it pairs only with the LARGER doc 3 — and keeps {1, 2}. This is
    // the precise, documented limit of the batch-equivalence claim.
    val w = (1 to 100).map(i => s"w$i")
    val x = (1 to 30).map(i => s"x$i")
    val docs = Seq(
      (1L, "https://h.chain.org/p/1", w.mkString(" ")),
      (2L, "https://h.chain.org/p/2", (w.take(70) ++ x).mkString(" ")),
      (3L, "https://h.chain.org/p/3", (w ++ x).mkString(" "))
    ).toDF("doc_id", "url", "text")
    val work = tempDir("graft-cc-chain")
    val r = ContinuousCuration.curateWave(docs, 0L, work, "url", None, None,
      Curation.QualityConfig(minTokens = 5, minTtr = 0.0, minCharEntropy = 0.0,
        maxDupNgramFrac = 1.0),
      nearDupThreshold = 0.7,
      splits = Seq("train" -> 1.0), seed = seed, snapshotOut = true)
    assert(r.nAfterNearDedup == 2, s"stream should keep {1,2}: $r")
    val table = s"$work/out"
    val kept = SnapshotTable.readSnapshot(spark, table).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    // the batch rule on the same three docs keeps only the component min
    val batchKept = graft.operators.Dedup.dedupedCorpus(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.7).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == Set(1L))
    // RECONCILIATION closes the divergence: the batch CC-min rule is
    // recomputed over the persisted LSH index alone and the retraction
    // commits as one new atomic snapshot — exact batch semantics restored
    // on the reconcile schedule, with the pre-reconcile corpus still
    // time-travelable
    val (v, retracted) = ContinuousCuration.reconcile(spark, work, 0.7)
    assert(retracted == 1L && v == 2L, s"expected doc 2 retracted at v2: ($v, $retracted)")
    assert(SnapshotTable.readSnapshot(spark, table).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(SnapshotTable.readSnapshot(spark, table, Some(1L)).count() == 2)
    // a second reconcile finds nothing to retract and commits nothing
    assert(ContinuousCuration.reconcile(spark, work, 0.7) == ((2L, 0L)))
  }

  test("end-to-end: raw WARC bytes → exactly-once record split → curation wave → versioned corpus") {
    // the full crawl-to-corpus composition: constructed gzip WARC
    // segments (with the planted seg%7==3 truncations) drain through
    // warcAvailableNow into a record table, records adapt to documents
    // (id recovered from the planted URL, payload decoded), and ONE
    // curation wave commits the survivors as an atomic snapshot — then
    // the same adapted documents through the BATCH build must agree.
    val segs = graft.operators.WarcQueries
      .plantedSegments(spark, sfDir("0.001")).collect()
    val srcDir = tempDir("graft-e2e-warc")
    segs.foreach { case (name, bytes) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, s"$name.warc.gz"), bytes)
    }
    val recDir = tempDir("graft-e2e-rec")
    val ckpt = tempDir("graft-e2e-ckpt")
    IncrementalIngest.warcAvailableNow(spark, srcDir, recDir, ckpt)
    val records = spark.read.parquet(recDir)
    assert(records.filter(col("malformed") === 1).count() > 0,
      "planted truncations should quarantine")
    val docs = records.filter(col("malformed") === 0)
      .select(
        expr("CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT)").as("doc_id"),
        col("url"), expr("decode(payload, 'UTF-8')").as("text"))
      .localCheckpoint()
    assert(docs.count() > 0)
    val work = tempDir("graft-e2e-work")
    // same stage config as batchSurvivors (the lists are no-ops on crawl
    // hosts/text, but both sides must run the same chain)
    val r = ContinuousCuration.curateWave(docs, 0L, work, "url",
      Some(blockedDomains), Some(blockedWords),
      Curation.QualityConfig(), 0.7,
      Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05), seed,
      snapshotOut = true)
    assert(r.nAfterNearDedup > 0)
    val streamed = SnapshotTable.readSnapshot(spark, s"$work/out")
      .select("doc_id", "split").distinct()
      .collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(streamed == batchSurvivors(docs),
      "crawl-fed wave must equal the batch build on the same records")
  }

  test("reconcile with out-of-order arrival keeps the smallest PRESENT member (r12 ADVICE: no data loss)") {
    // doc 5 arrives FIRST; its near-dup doc 3 — the GLOBAL cluster min —
    // arrives in a later wave and is first-seen-dropped, so the min-id
    // member was never emitted. The pre-fix rule retracted every
    // non-global-min member, deleting doc 5 too — ALL of the cluster's
    // emitted representatives — where batch semantics keep exactly one.
    val w = (1 to 100).map(i => s"w$i")
    val x = (1 to 30).map(i => s"x$i")
    val work = tempDir("graft-cc-ooo")
    val cfg = Curation.QualityConfig(minTokens = 5, minTtr = 0.0,
      minCharEntropy = 0.0, maxDupNgramFrac = 1.0)
    def wave(d: DataFrame, b: Long) =
      ContinuousCuration.curateWave(d, b, work, "url", None, None, cfg,
        nearDupThreshold = 0.7, splits = Seq("train" -> 1.0), seed = seed,
        snapshotOut = true)
    wave(Seq((5L, "https://h.ooo.org/p/5", w.mkString(" ")))
      .toDF("doc_id", "url", "text"), 0L)
    wave(Seq((3L, "https://h.ooo.org/p/3", (w ++ x).mkString(" ")))
      .toDF("doc_id", "url", "text"), 1L) // J(3,5)≈0.767 ≥ 0.7: dropped
    val table = s"$work/out"
    def corpus() = SnapshotTable.readSnapshot(spark, table).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpus() == Set(5L), "first-seen keeps the earlier arrival")
    val before = SnapshotTable.currentVersion(table)
    val (v, retracted) = ContinuousCuration.reconcile(spark, work, 0.7)
    assert(retracted == 0L && before.contains(v),
      s"nothing to retract — exactly one representative is present: ($v, $retracted)")
    assert(corpus() == Set(5L), "reconcile must never empty a cluster")
  }

  test("reconcile is a NO-OP when streamed semantics already equal batch (real corpus)") {
    val docs = planted.localCheckpoint()
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val work = tempDir("graft-cc-noop")
    def waveSnap(d: DataFrame, b: Long) =
      ContinuousCuration.curateWave(d, b, work, "url", Some(blockedDomains),
        Some(blockedWords), Curation.QualityConfig(), 0.7,
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05), seed,
        snapshotOut = true)
    waveSnap(docs.filter(col("doc_id") <= mid), 0L)
    waveSnap(docs.filter(col("doc_id") > mid), 1L)
    val before = SnapshotTable.currentVersion(s"$work/out")
    val (v, retracted) = ContinuousCuration.reconcile(spark, work, 0.7)
    assert(retracted == 0L && before.contains(v),
      s"real-corpus waves already match batch; reconcile must not commit: ($v, $retracted)")
  }
}
