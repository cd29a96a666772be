package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Preference-pair (DPO / RLHF reward-model) data preparation — the stage
  * between raw `(prompt, chosen, rejected)` records and the trainer
  * (record shape per Rafailov et al. 2023, arXiv:2305.18290 (DPO) /
  * Ouyang et al. 2022, arXiv:2203.02155 (RLHF reward modeling)). The
  * natural extension of [[Conversations]]: the same chat template, but a
  * two-branch record whose integrity rules are pairwise (chosen must
  * differ from rejected, branch lengths must stay comparable) rather than
  * purely positional.
  *
  * Validation and flattening are row-local `from_json` + string
  * expressions in one codegen span — they ride the scan at 100 TB like
  * the SFT card (q_f3 class). The one distributed step is prompt-level
  * exact-dup detection: DPO corpora routinely repeat a prompt across
  * records (same prompt re-labeled by different annotators), and training
  * on the duplicates overweights that prompt, so the pipeline keeps the
  * FIRST valid record per prompt. That is ONE exchange keyed by the
  * prompt's fixed-width 60-bit hash (never the prompt string itself —
  * prompts can be documents). Window skew is handled STRUCTURALLY, not
  * by AQE (AQE skew handling splits join partitions, never WindowExec):
  * invalid records — whose ranks are unused — are salted to their own
  * per-record key so the malformed/empty-prompt mass (which all
  * coalesces to prompt `''`) can never pile into one window task, and a
  * genuinely mega-shared VALID prompt costs one occurrence-count-sized
  * partition, the same exposure as paragraph dedup's banner keys
  * (ADVICE r10 #2; PreferencePairsSpec pins salted ≡ unsalted output).
  *
  * Reference surface: the candy pipeline has no preference-data layer —
  * this family is part of the training-data extensions the engine adds.
  */
object PreferencePairs {

  /** Schema of a serialized record: `{"prompt":…,"chosen":…,"rejected":…}`. */
  val pairSchema: StructType = StructType(Seq(
    StructField("prompt", StringType), StructField("chosen", StringType),
    StructField("rejected", StringType)))

  /** Parse a JSON record column. Malformed input yields a null (or
    * all-null-field) struct — it flows through as invalid, never kills
    * the job.
    */
  def parsePair(jsonCol: Column): Column = from_json(jsonCol, pairSchema)

  /** Record validity, as one boolean column — always true/false, never
    * NULL (the [[Conversations.validTurns]] coalesce discipline). A record
    * is valid iff it parsed, all three fields are non-empty, chosen and
    * rejected actually differ (identical branches carry zero preference
    * signal), and the branch lengths stay within `maxLenRatio` of each
    * other — a grossly longer branch usually means truncation or a
    * pasted-in artifact, and DPO loss on it mostly learns length.
    */
  def validPair(rec: Column, maxLenRatio: Int = 4): Column = {
    val p = rec.getField("prompt")
    val c = rec.getField("chosen")
    val r = rec.getField("rejected")
    coalesce(
      rec.isNotNull &&
        length(p) > 0 && length(c) > 0 && length(r) > 0 &&
        !(c <=> r) &&
        greatest(length(c), length(r)) <= lit(maxLenRatio) * least(length(c), length(r)),
      lit(false))
  }

  /** One branch flattened with the minimal chat template
    * `<|user|>prompt<|assistant|>branch` — the serialization the trainer
    * tokenizes for each side of the DPO loss. Empty string when the
    * record (or the needed field) is unparsed/null, so downstream hashes
    * are total functions.
    */
  def flattenBranch(rec: Column, branch: String): Column =
    when(rec.isNull || rec.getField("prompt").isNull ||
        rec.getField(branch).isNull, lit(""))
      .otherwise(concat(lit("<|user|>"), rec.getField("prompt"),
        lit("<|assistant|>"), rec.getField(branch)))

  /** Keep-first prompt dedup among VALID records: adds `prompt_dup`
    * (1 on a valid record whose prompt already appeared on a lower id)
    * and `kept` (1 on the surviving valid records — the shipped corpus).
    * Invalid records are never flagged and never shield a later valid
    * one — AND they never skew: ranks among invalid rows are unused, so
    * their window key is salted with the record id (each invalid row its
    * own singleton partition) instead of sharing the one
    * `(hash(''), valid=0)` key every malformed/empty-prompt record
    * coalesces to — at corpus scale that shared key was an unbounded
    * single-task WindowExec, the exact class the repo banned structurally
    * (f5ee021), and AQE would NOT have split it (its skew handling covers
    * joins, not windows). ONE fixed-width-key exchange either way.
    */
  def withPromptDup(df: DataFrame, idCol: String, validCol: String,
                    promptCol: String,
                    family: String = graft.functions.HashFamily.Xx64): DataFrame = {
    val w = Window.partitionBy(col("_pkey"), col(validCol)).orderBy(col(idCol))
    df.withColumn("_pkey",
        when(col(validCol) === 1, expr(TextAnalysis.hash60(promptCol, family)))
          .otherwise(col(idCol)))
      .withColumn("_rn", row_number().over(w))
      .withColumn("prompt_dup",
        (col(validCol) === 1 && col("_rn") > 1).cast("int"))
      .withColumn("kept",
        (col(validCol) === 1 && col("_rn") === 1).cast("int"))
      .drop("_pkey", "_rn")
  }

  /** Schema of a K-way RANKING record — how preference data is usually
    * COLLECTED (InstructGPT-style: one prompt, K responses, each with a
    * rank from the labeler; pairs are DERIVED, not labeled directly):
    * `{"prompt": …, "responses": [{"text": …, "rank": r}, …]}`. */
  val rankingSchema: StructType = StructType(Seq(
    StructField("prompt", StringType),
    StructField("responses", org.apache.spark.sql.types.ArrayType(
      StructType(Seq(StructField("text", StringType),
        StructField("rank", org.apache.spark.sql.types.IntegerType)))))))

  def parseRanking(jsonCol: Column): Column = from_json(jsonCol, rankingSchema)

  /** All DPO pairs derivable from one ranking record's responses, as an
    * array of `(chosen, rejected, margin)` structs — ROW-LOCAL (a nested
    * transform over the K-sized responses array, K² ≤ ~100 work per row;
    * no join, no shuffle — deriving C(K,2) pairs from rankings is
    * embarrassingly local, so it must ride the scan at 100 TB). Lower
    * rank = preferred; `margin` = rank gap (the confidence weight a
    * margin-weighted DPO/reward loss consumes). TIES derive nothing — an
    * equal rank carries zero preference signal — and null texts/ranks
    * derive nothing (the filter's null comparison is never true).
    * Pair-level validity (non-empty, chosen ≠ rejected) is left to the
    * caller's filter so the accounting can count what was dropped.
    */
  def pairsFromRanking(responses: Column): Column =
    flatten(transform(responses, a =>
      transform(
        filter(responses, b => b.getField("rank") > a.getField("rank")),
        b => struct(
          a.getField("text").as("chosen"),
          b.getField("text").as("rejected"),
          (b.getField("rank") - a.getField("rank")).as("margin")))))

  /** Inter-annotator agreement card over double-labeled preference
    * records — the labeler-noise QA a reward-model corpus runs before
    * training (a κ near chance means the "preferences" are noise and the
    * loss will fit labeler idiosyncrasy): per group, the 2×2 confusion
    * counts of two annotators' binary choices plus Cohen's κ,
    *
    *   κ = (p_o − p_e) / (1 − p_e),   p_o = (n00 + n11) / n,
    *   p_e = (a1·b1 + a0·b0) / n²
    *
    * Counts accumulate as exact LONGs in ONE group-by pass; κ and p_o are
    * computed from those integers in one fixed double formula rounded to
    * 6 dp (the engine's deterministic-float convention — replayable by
    * any engine bit-for-bit). Degenerate groups where p_e = 1 (both
    * annotators constant) define κ = 0. One exchange on the group key.
    */
  /** INTEGER-EXACT Bradley–Terry ratings from pairwise outcomes — the
    * arena/reward-model analysis stage: which model does preference data
    * actually rank, with what strength. The corpus pays ONE exchange
    * (the (winner, loser) count groupBy); the count matrix is
    * models²-bounded (the k-means-centroid collect class) and the
    * minorize-maximize iterations fold DRIVER-side in fixed-point
    * integer arithmetic (BigInt intermediates, floor at every division,
    * opponents summed in ascending-id order), so the result is
    * bit-deterministic on any engine and any partitioning — an external
    * SQL engine can replay every iteration exactly (the q_v13
    * integer-k-means discipline; floating-point MM would hash-diverge).
    *
    * Update (Hunter 2004 MM for BT, fixed-point form): with ratings
    * r_i at SCALE, wins W_i, and pair totals n_ij + n_ji,
    * {{{
    *   T_i  = Σ_j floor((n_ij + n_ji) · SCALE² / (r_i + r_j))
    *   r_i' = floor(W_i · SCALE² / T_i)            (then Σ-normalized)
    * }}}
    * A model with zero comparisons keeps rating 0 (reported, never
    * dividing). Returns (model, n_wins, n_games, rating) with rating at
    * `scale`. */
  def bradleyTerryIntegerRatings(df: DataFrame, winnerCol: String,
                                 loserCol: String, iterations: Int = 20,
                                 scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && scale >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    // null outcomes (unjudged/tied rows in arena exports) carry no BT
    // information: dropped here, documented — they never NPE the driver
    val counts = df
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull)
      .groupBy(col(winnerCol).as("w"), col(loserCol).as("l"))
      .agg(count(lit(1)).as("n"))
      .collect() // models²-bounded: the training-artifact scale
      .map(r => ((r.get(0).toString, r.get(1).toString), r.getLong(2)))
    val models = counts.flatMap { case ((w, l), _) => Seq(w, l) }
      .distinct.sorted
    val idx = models.zipWithIndex.toMap
    val m = models.length
    val n = Array.ofDim[Long](m, m) // n(i)(j) = i beat j
    counts.foreach { case ((w, l), c) => n(idx(w))(idx(l)) += c }
    val wins = Array.tabulate(m)(i => n(i).sum)
    val games = Array.tabulate(m)(i =>
      wins(i) + (0 until m).map(j => n(j)(i)).sum)
    val S = BigInt(scale)
    val S2 = S * S
    var r = Array.fill(m)(S) // everyone starts equal
    for (_ <- 1 to iterations) {
      val next = new Array[BigInt](m)
      for (i <- 0 until m) {
        if (games(i) == 0L) next(i) = BigInt(0)
        else {
          var t = BigInt(0)
          var j = 0
          while (j < m) { // ascending-j: the pinned summation order
            if (j != i) {
              val pair = n(i)(j) + n(j)(i)
              // r sums can floor to 0 at tiny scales / extreme skews:
              // a zero-rated pair carries no term this iteration (the
              // floor guard below keeps playing models >= 1 afterwards)
              if (pair > 0L && (r(i) + r(j)) > 0) t += BigInt(pair) * S2 / (r(i) + r(j))
            }
            j += 1
          }
          next(i) = if (t == 0) BigInt(0) else BigInt(wins(i)) * S2 / t
        }
      }
      // Σ-normalize over PLAYING models so ratings stay at SCALE and the
      // fixed point is unique (BT is scale-invariant)
      val playing = (0 until m).filter(games(_) > 0L)
      val total = playing.map(next(_)).sum
      r = Array.tabulate(m)(i =>
        if (games(i) == 0L || total == 0) BigInt(0)
        // floor at 1: a playing model whose normalized share floors to 0
        // must stay divisible next iteration (the MM term guards above)
        else (next(i) * S * playing.size / total).max(BigInt(1)))
    }
    (0 until m).map(i => (models(i), wins(i), games(i), r(i).toLong))
      .toDF("model", "n_wins", "n_games", "rating")
  }

  def annotatorAgreement(df: DataFrame, groupCol: String,
                         labelACol: String, labelBCol: String): DataFrame = {
    val a = col(labelACol).cast("long")
    val b = col(labelBCol).cast("long")
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(a === 0 && b === 0, 1L).otherwise(0L)).as("n00"),
        sum(when(a === 0 && b === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(a === 1 && b === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(a === 1 && b === 1, 1L).otherwise(0L)).as("n11"))
      .withColumn("p_o", round(expr("(n00 + n11) / CAST(n AS DOUBLE)"), 6))
      // the p_e = 1 degeneracy check runs in DECIMAL(38,0) (marginal
      // products clear 2^63 at corpus-scale n — the mixRecipe rule); the
      // κ value itself is ONE fixed double formula, 6-dp rounded
      .withColumn("kappa", round(expr(
        """CASE WHEN CAST(n10 + n11 AS DECIMAL(38,0)) * (n01 + n11)
          |        + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10)
          |        = CAST(n AS DECIMAL(38,0)) * n THEN 0.0D
          |ELSE ((n00 + n11) / CAST(n AS DOUBLE)
          |      - (CAST(n10 + n11 AS DOUBLE) * (n01 + n11)
          |         + CAST(n00 + n01 AS DOUBLE) * (n00 + n10))
          |        / (CAST(n AS DOUBLE) * n))
          |     / (1.0D - (CAST(n10 + n11 AS DOUBLE) * (n01 + n11)
          |                + CAST(n00 + n01 AS DOUBLE) * (n00 + n10))
          |               / (CAST(n AS DOUBLE) * n))
          |END""".stripMargin), 6))
  }

  /** Corpus accounting + shipped-split sizes of one [[curate]] run. */
  final case class PrefReport(nInput: Long, nValid: Long, nPromptDups: Long,
                              nKept: Long, splitCounts: Map[String, Long],
                              chosenChars: Long, rejectedChars: Long)

  /** End-to-end preference-corpus build: parse → validate → keep-first
    * prompt dedup → PROMPT-KEYED leak-safe split → both branches
    * template-flattened for the trainer. Splitting on the prompt rather
    * than the record id is load-bearing: even with dedup off or partial
    * (near-dup prompts, a later incremental batch), records sharing a
    * prompt can never straddle train/eval — the [[Pipeline.hashSplit]]
    * bucket is a pure function of (seed, prompt), so the same prompt
    * lands in the same split on any cluster, partitioning, or re-run.
    * Same composition discipline as [[Curation.curate]]: deterministic —
    * identical (records, seed) ⇒ byte-identical shipped frame and report.
    */
  def curate(records: DataFrame, idCol: String, jsonCol: String, seed: String,
             splits: Seq[(String, Double)] =
               Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
             maxLenRatio: Int = 4,
             family: String = graft.functions.HashFamily.Xx64): (DataFrame, PrefReport) = {
    val rec = parsePair(col(jsonCol))
    val base = records.select(col(idCol).as("id"), rec.as("rec"))
      .select(col("id"),
        validPair(col("rec"), maxLenRatio).cast("int").as("valid"),
        coalesce(col("rec.prompt"), lit("")).as("prompt"),
        flattenBranch(col("rec"), "chosen").as("chosen_text"),
        flattenBranch(col("rec"), "rejected").as("rejected_text"),
        coalesce(length(col("rec.chosen")), lit(0)).cast("long").as("chosen_chars"),
        coalesce(length(col("rec.rejected")), lit(0)).cast("long").as("rejected_chars"))
    val flagged = withPromptDup(base, "id", "valid", "prompt", family).persist()
    try {
      val nInput = flagged.count()
      val agg = flagged.agg(
        sum("valid").as("v"), sum("prompt_dup").as("d"), sum("kept").as("k"),
        sum(when(col("kept") === 1, col("chosen_chars")).otherwise(lit(0L))).as("cc"),
        sum(when(col("kept") === 1, col("rejected_chars")).otherwise(lit(0L))).as("rc"))
        .head()
      val shipped = Pipeline.hashSplit(
          flagged.filter(col("kept") === 1), "prompt", s"$seed-split", splits)
        .select("id", "split", "prompt", "chosen_text", "rejected_text")
      val splitCounts = shipped.groupBy("split").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (shipped, PrefReport(nInput, agg.getAs[Long]("v"), agg.getAs[Long]("d"),
        agg.getAs[Long]("k"), splitCounts,
        agg.getAs[Long]("cc"), agg.getAs[Long]("rc")))
    } finally flagged.unpersist()
  }
}
