package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The end-to-end CORPUS CURATION pipeline — the engine's operators
  * composed into the sequence a production training-data build runs, with
  * a per-stage survivor report:
  *
  *   raw docs              (for a web corpus: `WarcIngest.readWarc`
  *                            splits raw crawl segments into (url,
  *                            fetch_ts, payload) rows file-parallel —
  *                            quarantined records dropped or audited —
  *                            then `TextAnalysis.extractMainText` yields
  *                            the doc text this pipeline consumes)
  *     → URL layer           (optional, first — the cheapest work: canonical-
  *                            URL dedup + registered-domain blocklist, both
  *                            before anything touches the text)
  *     → encoding repair     (optional: the cp1252-mojibake replace chain
  *                            rides the first text scan — BEFORE any text
  *                            measurement, since mojibake perturbs
  *                            paragraph hashes, token stats and
  *                            classifier features alike)
  *     → PII redaction       (optional: email/phone/IPv4/IPv6/number →
  *                            typed tags on the same early scan — before
  *                            dedup/hashing, so docs differing only in PII
  *                            collapse and no PII reaches a persisted
  *                            signature)
  *     → caption alignment   (optional, multimodal/LAION shape: drop pairs
  *                            whose caption's centered-cosine score against
  *                            the media payload falls below the floor —
  *                            before any text measurement, since a
  *                            misaligned pair is bad data however good
  *                            its text looks)
  *     → paragraph dedup     (optional, CCNet-shape: corpus-repeated
  *                            boilerplate paragraphs removed at all but
  *                            their first occurrence, docs rewritten —
  *                            before any text measurement)
  *     → word blocklist      (optional, the C4 badwords gate: docs
  *                            containing a listed word drop whole —
  *                            word-level, case-folded, list broadcast;
  *                            before quality so later stages never pay
  *                            for dropped docs)
  *     → quality gate        (row-local, one scan; either the scalar
  *                            heuristics or — with [[Curation.GopherConfig]] —
  *                            the auditable Gopher rule card, which adds
  *                            per-rule drop counts to the report)
  *     → repetition gate     (optional: the Gopher Table-A1 repetition
  *                            card — nine per-rule drop counts join the
  *                            report's rule audit)
  *     → classifier gate     (optional: hashed-linear margin threshold,
  *                            model-as-plan-literal inference riding the
  *                            scan — [[Curation.ClassifierConfig]])
  *     → decontamination     (optional: drop docs sharing k-grams with a
  *                            broadcast benchmark set — corpus never
  *                            shuffles here)
  *     → substring scrub     (optional: cut corpus-duplicated spans, then
  *                            re-apply the token floor to the rewrite —
  *                            BEFORE near-dup so boilerplate doesn't
  *                            inflate pairwise similarity)
  *     → exact dedup         (normalized-text keeper groups)
  *     → near-dup dedup      (MinHash-LSH clusters → canonical keepers)
  *     → leak-free split     (seeded hash buckets: train/valid/test)
  *     → sequence packing    (token-budget bins per (split, shard))
  *     → write               (partitioned by split, deterministic
  *                            training order inside each shard)
  *
  * Every stage is an already-oracle-checked operator; this class pins the
  * COMPOSITION: stage order (near-dup runs on exact-deduped survivors, so
  * its pair generation never wastes work on byte-identical copies), the
  * shared seed discipline (one seed drives split membership, shard
  * assignment, and training order — a rerun of any suffix of the pipeline
  * reproduces byte-identical outputs), and the survivor accounting a
  * dataset card needs.
  *
  * Scale notes. The quality gate and all sampling/splitting decisions are
  * row-local pure functions; the two dedup stages are the only wide ops
  * (one hash-key shuffle for exact, the banded LSH joins for near-dup);
  * packing is one window per (split, shard); the write is dynamic
  * partition overwrite so a re-run replaces, not duplicates.
  */
object Curation {

  /** Per-stage survivor counts and the packed-corpus totals. The optional
    * stages report -1 when disabled so a dataset card can tell "stage
    * off" from "stage dropped nothing". `ruleDrops` (Gopher-card gate
    * only) counts input docs failing EACH rule independently — the
    * per-rule audit a filtering pipeline reviews when tuning thresholds;
    * the flags are not mutually exclusive, so the values need not sum to
    * the gate's total drop.
    */
  final case class Report(nInput: Long, nAfterQuality: Long,
                          nAfterExactDedup: Long, nAfterNearDedup: Long,
                          splitCounts: Map[String, Long],
                          nBins: Long, nTokens: Long,
                          nAfterDecontam: Long = -1L,
                          nAfterScrub: Long = -1L,
                          ruleDrops: Map[String, Long] = Map.empty,
                          nAfterClassifier: Long = -1L,
                          nAfterUrlDedup: Long = -1L,
                          nAfterBlocklist: Long = -1L,
                          nAfterParagraphDedup: Long = -1L,
                          nAfterRepetition: Long = -1L,
                          nEncodingRepaired: Long = -1L,
                          nPiiRedacted: Long = -1L,
                          nAfterCaptionAlign: Long = -1L,
                          nAfterWordBlocklist: Long = -1L,
                          nAfterRobots: Long = -1L,
                          nGpsStripped: Long = -1L)

  /** Quality thresholds for the row-local gate. Defaults are the
    * web-corpus heuristics (Gopher-family): enough tokens, some lexical
    * diversity, bounded intra-doc repetition, non-degenerate character
    * entropy.
    */
  final case class QualityConfig(minTokens: Int = 10,
                                 minTtr: Double = 0.2,
                                 maxDupNgramFrac: Double = 0.6,
                                 minCharEntropy: Double = 1.0)

  /** Thresholds for the Gopher rule-card gate (the AUDITABLE quality-gate
    * form): passing this to [[curate]] replaces the scalar heuristics
    * with [[TextAnalysis.gopherRuleCard]]'s five integer-flagged rules,
    * and the report gains per-rule drop counts.
    */
  final case class GopherConfig(minWords: Int = 50, maxWords: Int = 100000)

  /** Trained-classifier gate: docs whose hashed-linear margin falls below
    * `minMargin` drop. The seeded weight table is the verifiable stand-in
    * for exported trained weights (see [[TextAnalysis.hashedLinearScore]]
    * — a real model swaps in its bucket->weight array and the stage shape
    * is unchanged: the model rides the scan, the corpus never shuffles).
    */
  final case class ClassifierConfig(minMargin: Double = 0.0,
                                    dim: Int = 1024,
                                    seed: String = "graft-qc-1")

  /** Image-text alignment gate (the multimodal curation stage, LAION
    * shape): docs whose (payload, caption) centered-cosine score falls
    * below `floor6` (6-dp scaled-long) drop. Both columns must exist on
    * the input frame; see [[Multimodal.captionAlign]].
    */
  final case class CaptionAlignConfig(payloadCol: String, captionCol: String,
                                      floor6: Long = 200000L, dim: Int = 16)

  /** Lineage cut: rebuild a frame from its RDD so downstream plans start
    * from a compact leaf. The early row-local rewrite stages (mojibake
    * repair's 14-replace chain, the 5-pattern redaction chain, the
    * alignment scorer's HOF trees) inline MEGABYTE expression trees into
    * the plan; a stage that then joins such a frame against a derivative
    * of itself (the caption gate's semi-join, paragraph reassembly)
    * roughly squares the plan tree — and Spark renders the full plan
    * STRING for cache names, which measurably OOMs the driver at full
    * stage composition. The cut is lazy and O(1): no data materializes,
    * the rewrites still execute exactly once per downstream action, only
    * the SQL plan restarts. (Catalyst cannot push filters below the cut —
    * placed only after row-local rewrite blocks, where there is nothing
    * left to push into.)
    */
  private def planReset(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** The row-local quality gate as one filter expression — all signals
    * compute inside the same scan, no shuffle, no second pass.
    */
  def qualityGate(docs: DataFrame, textCol: String,
                  cfg: QualityConfig): DataFrame = {
    val w = Dedup.tokensExpr(textCol)
    val gate = Dedup.letBind(w, "wv",
      s"""size(wv) >= ${cfg.minTokens} AND
         |CAST(size(array_distinct(wv)) AS DOUBLE) / size(wv) >= ${cfg.minTtr}
         |""".stripMargin)
    docs
      .filter(expr(gate))
      .filter(TextAnalysis.charEntropy(textCol) >= cfg.minCharEntropy)
      .join(
        TextAnalysis.repetitionStats(docs, "doc_id", textCol, n = 2)
          .filter(col("dup_ngram_frac") <= cfg.maxDupNgramFrac)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
  }

  /** Run the full curation build. Writes the packed corpus to `outDir`
    * partitioned by split, returns the survivor report. Deterministic:
    * same inputs + seed ⇒ byte-identical outputs and report. A document's
    * shard is the first two hex digits of its seeded md5 bucket, so every
    * build packs into 256 shards per split.
    */
  def curate(docs: DataFrame, outDir: String, seed: String,
             quality: QualityConfig = QualityConfig(),
             nearDupThreshold: Double = 0.7,
             splits: Seq[(String, Double)] =
               Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
             budgetTokens: Long = 512L,
             benchmark: Option[DataFrame] = None, decontamWindow: Int = 8,
             scrubWindow: Int = 0,
             gopher: Option[GopherConfig] = None,
             classifier: Option[ClassifierConfig] = None,
             urlCol: Option[String] = None,
             domainBlocklist: Option[DataFrame] = None,
             paragraphDedupStage: Boolean = false,
             repetitionGate: Boolean = false,
             encodingRepair: Boolean = false,
             piiRedact: Boolean = false,
             captionAlign: Option[CaptionAlignConfig] = None,
             wordBlocklist: Option[DataFrame] = None,
             robotsRules: Option[DataFrame] = None,
             robotsAgent: String = "*",
             exifGpsStrip: Option[String] = None): Report = {
    // every frame the build persists, released when it ends, on success or
    // on a throw
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df.persist() }
    try {
      val nInput = docs.count()

      // URL layer FIRST when the corpus carries URLs (the web-pipeline
      // ordering: it is the cheapest dedup/filter work the build has, so it
      // runs before anything touches the text). Canonical-URL dedup keeps
      // the smallest id per page; the optional blocklist anti-joins on the
      // registered domain (broadcast — the corpus never shuffles for it).
      val (docsAfterUrl, nUrlDedup, nBlocklist, nRobotsKept) = urlCol match {
        case Some(uc) =>
          val keyed = UrlOps.withUrlParts(docs, uc, canonicalCol = "_curl")
          val keepers = keyed.withColumn("_keep", min("doc_id").over(
              org.apache.spark.sql.expressions.Window.partitionBy("_curl")))
            .filter(col("doc_id") === col("_keep"))
            .drop("_curl", "_keep")
            .transform(keep)
          val nDedup = keepers.count()
          val (after, nBlock) = domainBlocklist match {
            case Some(b) =>
              val kept = UrlOps.domainListFilter(keepers, uc, b).transform(keep)
              val n = kept.count()
              keepers.unpersist()
              (kept, n)
            case None => (keepers, -1L)
          }
          // robots.txt compliance rides the SAME layer (it is URL-only
          // work): verdicts against the canonical host + request path for
          // the build's crawler identity, disallowed pages dropped before
          // any text is touched. Rules are host-count-bounded (one
          // robots body per host) — a broadcast join, the corpus never
          // shuffles for it.
          val (afterRobots, nRobots) = robotsRules match {
            case Some(rules) =>
              // host AND path from the SAME canonical form, via Column APIs
              // (r13 ADVICE: interpolating the caller's column name into
              // SQL text broke non-identifier names, and a raw-URL path
              // beside a canonical host made verdicts inconsistent); rules
              // match the full local part — path + query — per RFC 9309
              val canon = UrlOps.canonicalizeUrl(col(uc))
              val rawPath = parse_url(canon, lit("PATH"))
              val rawQuery = parse_url(canon, lit("QUERY"))
              val withHp = after
                .withColumn("_rh", UrlOps.hostOf(canon))
                .withColumn("_rp", concat(
                  when(rawPath.isNull || rawPath === "", lit("/"))
                    .otherwise(rawPath),
                  when(rawQuery.isNull || rawQuery === "", lit(""))
                    .otherwise(concat(lit("?"), rawQuery))))
              val kept = UrlOps.robotsVerdicts(withHp, rules, robotsAgent,
                  "doc_id", "_rh", "_rp")
                .filter(col("allowed"))
                .drop("_rh", "_rp", "allowed", "match_len")
                .transform(keep)
              val n = kept.count()
              after.unpersist()
              (kept, n)
            case None => (after, -1L)
          }
          // lineage cut (see [[planReset]]): the canonicalization trees
          // must not flow into every downstream stage's plan. `held` has the
          // persisted original — unpersisting the reset frame would be a
          // no-op on the wrong plan.
          (planReset(afterRobots), nDedup, nBlock, nRobots)
        case None =>
          require(domainBlocklist.isEmpty,
            "domainBlocklist requires urlCol — there is no domain without a URL")
          require(robotsRules.isEmpty,
            "robotsRules requires urlCol — there is no path without a URL")
          (docs, -1L, -1L, -1L)
      }
      // Encoding repair leads the TEXT stages (right after the URL layer,
      // which never reads text): cp1252 mojibake perturbs paragraph hashes,
      // token statistics and classifier features alike, so the row-local
      // repair chain must run before any of them measure. No docs drop
      // here — the report counts docs that actually carried mojibake (0 is
      // a meaningful "corpus was clean" reading, hence -1 when disabled).
      val (docsRepaired0, nRepaired) = if (encodingRepair) {
        val bad = docsAfterUrl.filter(
          expr(s"${TextAnalysis.mojibakeCountExpr("coalesce(text, '')")} > 0"))
          .count()
        (docsAfterUrl.withColumn("text",
          expr(TextAnalysis.mojibakeRepairExpr("text"))), bad)
      } else (docsAfterUrl, -1L)

      // PII redaction rides the same early scan (right after encoding
      // repair, BEFORE dedup/hashing): redacting first makes docs that
      // differ only in emails/numbers collapse in the dedup stages, and no
      // PII ever reaches a persisted signature. Row-local regexp rewrite;
      // the report counts docs that carried any match.
      val (docsRepaired1, nPii) = if (piiRedact) {
        // full typed breadth (email/phone/IPv4/IPv6/number — see
        // Pipeline.redactTyped); the report counts docs carrying ANY match
        val tagged = docsRepaired0.withColumn("_pii",
          Pipeline.redactTyped(col("text")))
        val hit = tagged.filter(
          col("_pii.n_emails") + col("_pii.n_phones") + col("_pii.n_ipv4") +
            col("_pii.n_ipv6") + col("_pii.n_nums") > 0).count()
        (tagged.withColumn("text", col("_pii.clean")).drop("_pii"), hit)
      } else (docsRepaired0, -1L)

      // GPS EXIF strip rides the SAME early PII scan (the image branch's
      // PII class, beside the text redaction above): the payload column is
      // rewritten with the GPS IFD surgically zeroed BEFORE any signature
      // or artifact is built from it, so coordinates never persist. Docs
      // whose containers will not parse pass through untouched (the
      // quarantine-don't-guess rule); the report counts actual strips.
      val (docsRepaired2, nGps) = exifGpsStrip match {
        case Some(pc) =>
          val stripped = Multimodal.stripExifGps(
              docsRepaired1.withColumnRenamed(pc, "_gps_payload")
                .withColumn("_gps_id", col("doc_id")),
              "_gps_id", "_gps_payload").toDF()
          val joined = docsRepaired1.drop(pc)
            .join(stripped.select(col("id").as("doc_id"),
              col("gps_stripped"), col("payload").as(pc)), Seq("doc_id"))
          val n = joined.filter(col("gps_stripped")).count()
          (joined.drop("gps_stripped"), n)
        case None => (docsRepaired1, -1L)
      }
      // lineage cut after the rewrite block (see [[planReset]]): without it,
      // the caption gate's semi-join and the paragraph reassembly square the
      // repair/redaction expression trees into a driver-OOM-sized plan
      val docsRepaired =
        if (encodingRepair || piiRedact || exifGpsStrip.isDefined)
          planReset(docsRepaired2)
        else docsRepaired2

      // Multimodal alignment gate (LAION shape) right after the row-local
      // repairs, before any text-measurement stage: a misaligned caption
      // means the PAIR is bad training data regardless of text quality, and
      // dropping it here spares every later stage. Row-local scoring (one
      // typed feature pass + a score expression) and a semi-join of ids —
      // payloads never shuffle.
      val (docsAligned, nCaptionAlign) = captionAlign match {
        case Some(c) =>
          val kept = docsRepaired.join(
              Multimodal.captionAlign(docsRepaired, "doc_id", c.payloadCol,
                  c.captionCol, c.floor6, c.dim)
                .filter(col("aligned") === 1)
                .select(col("media_id").as("doc_id")),
              Seq("doc_id"), "left_semi")
            .transform(keep)
          // lineage cut: the alignment-score trees sit on both join sides
          (planReset(kept), kept.count())
        case None => (docsRepaired, -1L)
      }

      // CCNet-shape paragraph dedup right after the URL layer, BEFORE the
      // quality gate: corpus-repeated boilerplate paragraphs are removed at
      // all but their first occurrence and docs are rewritten from the
      // survivors, so every later stage (quality card, classifier, MinHash)
      // measures prose, not footers. Docs left with no paragraphs drop.
      val (docs1, nParagraph) = if (paragraphDedupStage) {
        val clean = Dedup.paragraphDedup(docsAligned, "doc_id", "text")
          .filter(col("n_kept") > 0)
          .select(col("id").as("doc_id"), col("clean_text").as("text"))
        val rewritten = docsAligned.drop("text")
          .join(clean, Seq("doc_id")).transform(keep)
        // lineage cut: reassembly joins the corpus against its own window
        (planReset(rewritten), rewritten.count())
      } else (docsAligned, -1L)

      // C4 badwords gate (word-level, case-folded — Pipeline
      // .wordBlocklistFilter) right before the quality measurements: a doc
      // containing a listed word drops whole regardless of its stats, so
      // the later stages never pay for it. The list broadcasts; the corpus
      // text never shuffles (distinct-token semi-join + id anti-join).
      val (docs2, nWordBlock) = wordBlocklist match {
        case Some(w) =>
          val kept = Pipeline.wordBlocklistFilter(docs1, "doc_id", "text", w)
          (kept, kept.count())
        case None => (docs1, -1L)
      }

      // Quality gate: either the scalar heuristics or (when `gopher` is
      // set) the rule card — same row-local shape, but the card keeps WHICH
      // rule failed, so the report can carry per-rule drop counts.
      val (gated, ruleDrops) = gopher match {
        case Some(g) =>
          val card = TextAnalysis.gopherRuleCard(
              docs2.select(col("doc_id"), col("text")), "doc_id", "text",
              minWords = g.minWords, maxWords = g.maxWords)
            .transform(keep)
          val ruleCols = Seq("r1_word_count", "r2_word_len", "r3_symbols",
            "r4_alpha", "r5_stopwords")
          val drops = card
            .agg(sum(expr(s"1 - ${ruleCols.head}")).as(ruleCols.head),
              ruleCols.tail.map(c => sum(expr(s"1 - $c")).as(c)): _*)
            .head()
          val dropMap = ruleCols.map(c => c -> drops.getAs[Long](c)).toMap
          val survivors = docs2.join(
            card.filter(col("pass") === 1).select("doc_id"),
            Seq("doc_id"), "left_semi")
          card.unpersist()
          (survivors, dropMap)
        case None =>
          (qualityGate(docs2, "text", quality), Map.empty[String, Long])
      }

      // Optional repetition gate (Gopher Table A1's repetitious-text half,
      // [[TextAnalysis.gopherRepetitionCard]]) directly after the quality
      // gate — the same row-local card shape, with its nine per-rule drop
      // counts merged into the report's rule audit (names are disjoint from
      // the rule card's).
      val (afterGates, nQualityPre, nRepetition, ruleDropsAll) =
        if (repetitionGate) {
          val g = keep(gated)
          val nG = g.count()
          val card = TextAnalysis.gopherRepetitionCard(
              g.select(col("doc_id"), col("text")), "doc_id", "text")
            .transform(keep)
          val repCols = Seq("r1_dup_lines", "r2_dup_line_chars",
            "r3_dup_paras", "r4_dup_para_chars", "r5_top2gram",
            "r6_top3gram", "r7_top4gram", "r8_dup5gram", "r9_dup10gram")
          val drops = card
            .agg(sum(expr(s"1 - ${repCols.head}")).as(repCols.head),
              repCols.tail.map(c => sum(expr(s"1 - $c")).as(c)): _*)
            .head()
          val dropMap = repCols.map(c => c -> drops.getAs[Long](c)).toMap
          val kept = g.join(card.filter(col("pass") === 1).select("doc_id"),
            Seq("doc_id"), "left_semi").transform(keep)
          val nKept = kept.count()
          card.unpersist()
          g.unpersist()
          (kept, nG, nKept, ruleDrops ++ dropMap)
        } else (gated, -1L, -1L, ruleDrops)

      // Optional trained-classifier gate — row-local inference riding the
      // scan; only surviving ids semi-join back. nAfterQuality counts the
      // rule/heuristic gate alone so the two stages stay separable in the
      // report.
      val (afterQuality0, nGateCount, nClassifier) = classifier match {
        case Some(c) =>
          val g = keep(afterGates)
          val nGate = g.count()
          val kept = g.join(
              TextAnalysis.hashedLinearScore(g, "doc_id", "text",
                  dim = c.dim, seed = c.seed)
                .filter(col("margin") >= c.minMargin)
                .select("doc_id"),
              Seq("doc_id"), "left_semi")
            .transform(keep)
          val nK = kept.count()
          g.unpersist()
          (kept, nGate, nK)
        case None =>
          val g = keep(afterGates)
          (g, g.count(), -1L)
      }
      // nAfterQuality reports the quality gate ALONE: when the repetition
      // gate ran, the classifier block's input count is post-repetition, so
      // the pre-repetition count is the quality number.
      val nQuality = if (repetitionGate) nQualityPre else nGateCount

      // Benchmark decontamination BEFORE any dedup work: flagged docs must
      // not ship, so dropping them first also spares the wide stages. The
      // benchmark gram set broadcasts; this stage never shuffles the corpus
      // (the benchmark frame must expose bench_id/btext).
      val afterDecontam = benchmark match {
        case Some(b) =>
          Dedup.decontaminate(afterQuality0, "doc_id", "text",
            b, "bench_id", "btext", k = decontamWindow).transform(keep)
        case None => afterQuality0
      }
      val nDecontam = if (benchmark.isDefined) afterDecontam.count() else -1L

      // Substring scrub (boilerplate removal) BEFORE near-dup dedup: shared
      // boilerplate inflates pairwise similarity, so cutting it first makes
      // the MinHash stage measure the prose, not the license header. Docs
      // scrubbed below the TOKEN floor drop (only minTokens re-applies to
      // the rewritten text; the other gate signals keep their pre-scrub
      // verdicts).
      val afterScrub = if (scrubWindow > 0) {
        val clean = Dedup.scrubDuplicatedSpans(afterDecontam, "doc_id", "text",
            k = scrubWindow)
          .select(col("id").as("doc_id"), col("clean_text"))
        afterDecontam.drop("text")
          .join(clean.withColumnRenamed("clean_text", "text"), "doc_id")
          .filter(expr(
            s"size(${Dedup.tokensExpr("text")}) >= ${quality.minTokens}"))
          .transform(keep)
      } else afterDecontam
      val nScrub = if (scrubWindow > 0) afterScrub.count() else -1L
      val afterQuality = afterScrub

      // exact dedup first: byte-identical copies never reach the LSH stage
      val exactKeepers = afterQuality
        .withColumn("_norm",
          regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .withColumn("_keep", min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("_norm")))
        .filter(col("doc_id") === col("_keep"))
        .drop("_norm", "_keep")
        .transform(keep)
      val nExact = exactKeepers.count()

      val deduped = Dedup.dedupedCorpus(exactKeepers, "doc_id", "text",
          shingleSize = 2, threshold = nearDupThreshold)
        .transform(keep)
      val nNear = deduped.count()

      val split = Pipeline.hashSplit(deduped, "doc_id", s"$seed-split", splits)
      val withTokens = split
        .withColumn("n_tokens",
          expr(s"CAST(size(${Dedup.tokensExpr("text")}) AS BIGINT)"))
        .withColumn("shard",
          Pipeline.hashBucket(col("doc_id"), s"$seed-shard")
            .substr(1, 2).cast("string"))
      // training order inside each (split, shard): the seeded shuffle key —
      // packing walks documents in that order, so bins ARE the training order
      val ordered = withTokens
        .withColumn("ord", Pipeline.shuffleKey(col("doc_id"), s"$seed-order"))
      val packed = Pipeline.packSequences(ordered
          .withColumn("_g", concat_ws("/", col("split"), col("shard"))),
          "_g", "ord", "n_tokens", budgetTokens)
        .drop("_g")
        .transform(keep)

      val splitCounts = packed.groupBy("split").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val totals = packed.agg(
        countDistinct(col("split"), col("shard"), col("bin")).as("bins"),
        sum("n_tokens").as("toks")).head()

      packed
        .repartition(col("split"), col("shard"))
        .sortWithinPartitions("split", "shard", "bin", "ord")
        .write.mode("overwrite").partitionBy("split")
        .parquet(outDir)

      Report(nInput, nQuality, nExact, nNear, splitCounts,
        totals.getLong(0), totals.getLong(1), nDecontam, nScrub,
        ruleDropsAll, nClassifier, nUrlDedup, nBlocklist,
        nParagraph, nRepetition, nRepaired, nPii, nCaptionAlign, nWordBlock,
        nRobotsKept, nGps)
    } finally held.foreach(_.unpersist())
  }
}
