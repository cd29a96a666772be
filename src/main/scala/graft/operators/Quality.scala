package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations over a frame — the generalization
  * of the reference pipeline's hardcoded cleaning steps (na.drop on totals,
  * quantity > 0 filters: src/data_processor.py's fulfillment prep) into a
  * rule set a 100 TB ingest can run as one audit pass.
  *
  * Scale design. All row-level rules (null, domain, range, pattern) fold
  * into a SINGLE conditional-aggregation scan — one pass over the table no
  * matter how many rules. Uniqueness needs its own shuffle (count>1 per
  * key), and referential integrity one anti-join per dimension; both are
  * plain Catalyst shapes (hash agg / broadcast-able anti join). Nothing
  * collects to the driver; the result is a tiny (rule, violations) frame.
  */
object Quality {

  sealed trait Rule { def name: String }

  /** Row-level rule: `violated` is true on rows breaking the expectation. */
  final case class RowRule(name: String, violated: Column) extends Rule

  def notNull(c: String): RowRule =
    RowRule(s"not_null($c)", col(c).isNull)

  // nulls pass (they are notNull's job), matching SQL NOT IN semantics
  def acceptedValues(c: String, values: Seq[String]): RowRule =
    RowRule(s"accepted_values($c)",
      col(c).isNotNull && !col(c).isin(values: _*))

  def nonNegative(c: String): RowRule =
    RowRule(s"non_negative($c)", col(c) < 0)

  def inRange(c: String, lo: Double, hi: Double): RowRule =
    RowRule(s"in_range($c)", col(c) < lo || col(c) > hi)

  def matches(c: String, regex: String): RowRule =
    RowRule(s"matches($c)", !col(c).rlike(regex))

  /** Key-level rule: rows whose key occurs more than once. */
  final case class Unique(cols: Seq[String]) extends Rule {
    val name = s"unique(${cols.mkString(",")})"
  }

  /** Cross-table rule: fact keys with no match in the dimension. */
  final case class RefIntegrity(factCol: String, dim: DataFrame,
                                dimCol: String) extends Rule {
    val name = s"ref_integrity($factCol)"
  }

  /** Run every rule and return one (rule, violations) row per rule,
    * ordered by rule name. Row-level rules share one aggregation pass.
    */
  def audit(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "audit needs at least one rule")

    val rowRules = rules.collect { case r: RowRule => r }
    val rowResults: Option[DataFrame] =
      if (rowRules.isEmpty) None
      else {
        val aggs = rowRules.map(r =>
          sum(when(r.violated, 1L).otherwise(0L)).as(r.name))
        val wide = df.agg(aggs.head, aggs.tail: _*)
        // unpivot the single wide row into (rule, violations)
        val stacked = wide.select(explode(map(
          rowRules.flatMap(r => Seq(lit(r.name), col(r.name))): _*
        )).as(Seq("rule", "violations")))
        Some(stacked)
      }

    val keyResults = rules.collect { case u: Unique =>
      df.groupBy(u.cols.map(col): _*).count()
        .filter(col("count") > 1)
        .agg(coalesce(sum(col("count")), lit(0L)).as("violations"))
        .select(lit(u.name).as("rule"), col("violations"))
    }

    val refResults = rules.collect { case r: RefIntegrity =>
      df.join(r.dim.select(col(r.dimCol).as(r.factCol)).distinct(),
          Seq(r.factCol), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit(r.name).as("rule"), col("violations"))
    }

    (rowResults.toSeq ++ keyResults ++ refResults)
      .reduce(_ unionByName _)
      .orderBy("rule")
  }

  /** k-anonymity suppression over a quasi-identifier: rows whose
    * quasi-identifier combination occurs fewer than `k` times get every
    * quasi column replaced by `marker`, so no released group identifies
    * fewer than k rows — the privacy gate a curation pipeline runs before
    * sharing per-source/per-cohort statistics. Non-quasi columns pass
    * through untouched.
    *
    * Scale shape: one window count partitioned by the quasi columns — a
    * single hash exchange on the quasi key, no self-join, no driver state.
    * (A groupBy+broadcast-join variant only wins when the quasi key space
    * is small; the window form is skew-safe under AQE and one less scan.)
    */
  /** Differentially-private count release: per-group counts plus Laplace
    * noise at scale 1/ε (sensitivity 1 for counting queries), with the
    * noise drawn from a SEEDED hash instead of an RNG — the shape
    * distributed DP releases actually use, because a resumable/retried job
    * must add the SAME noise to the same group or the privacy accounting
    * breaks (each retry would be a fresh release). u ∈ [0,1) comes from a
    * 60-bit md5 prefix of (seed, group key); the inverse-CDF transform
    * `-b·sign(u-½)·ln(1-2|u-½|)` is plain IEEE double math, so any engine
    * replays the release bit-for-bit. One hash-agg shuffle; noise is
    * row-local on the groups frame.
    *
    * This protects the RELEASE; pick ε per your privacy budget and never
    * release the raw counts alongside (this method doesn't).
    */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
                    seed: String): DataFrame = {
    require(groupCols.nonEmpty && epsilon > 0, "need group cols and ε > 0")
    val keySql = (s"'$seed'" +: groupCols.map(c => s"CAST($c AS STRING)"))
      .mkString("concat_ws('|', ", ", ", ")")
    val b = 1.0 / epsilon
    // u in [0,1): 60-bit prefix / 2^60 — same literal in the oracle
    val u = s"CAST(${TextAnalysis.md5Hash60(keySql)} AS DOUBLE) / 1152921504606846976.0D"
    val noise =
      s"round(-${b}D * sign($u - 0.5D) * ln(1.0D - 2.0D * abs($u - 0.5D)), 6)"
    df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn("noisy_n",
        expr(s"round(CAST(n AS DOUBLE) + $noise, 4)"))
      .drop("n")
  }

  /** Per-group WINSORIZATION flags by nearest-rank percentiles — the
    * "drop length outliers per language" curation step, with EXACT
    * percentile semantics: the p-th percentile of a group of n values is
    * the value at 1-based sorted position ceil(p·n) (the classic
    * nearest-rank definition — pure integer rank arithmetic, no
    * interpolation, so any engine replays it bit-for-bit; interpolating
    * percentile_cont implementations disagree in last-ulp ways that break
    * hashes). Rows get `status` = 'low' (< pLo value), 'high' (> pHi
    * value), or 'keep'.
    *
    * Scale shape: ONE shuffle on the group key; the sort rank, the two
    * percentile lookups (max-over-window of rank-selected values), and
    * the flagging all reuse that exchange. No driver state, no second
    * scan.
    */
  def winsorizeFlags(df: DataFrame, groupCol: String, valueCol: String,
                     pLo: Double, pHi: Double): DataFrame = {
    require(pLo > 0 && pHi < 1 && pLo < pHi, s"need 0 < pLo < pHi < 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val ordered = w.orderBy(col(valueCol))
    df
      .withColumn("_rk", row_number().over(ordered))
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_lo", max(when(
        col("_rk") === ceil(col("_n") * pLo).cast("int"), col(valueCol)))
        .over(w))
      .withColumn("_hi", max(when(
        col("_rk") === ceil(col("_n") * pHi).cast("int"), col(valueCol)))
        .over(w))
      .withColumn("status",
        when(col(valueCol) < col("_lo"), "low")
          .when(col(valueCol) > col("_hi"), "high")
          .otherwise("keep"))
      .drop("_rk", "_n", "_lo", "_hi")
  }

  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Int,
                 marker: String = "__SUPPRESSED__"): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1, "need quasi columns and k >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*)
    val suppressed = count(lit(1)).over(w) < k
    df.select(df.columns.toSeq.map { c =>
      if (quasiCols.contains(c))
        when(suppressed, lit(marker)).otherwise(col(c).cast("string")).as(c)
      else col(c)
    }: _*)
  }
}
