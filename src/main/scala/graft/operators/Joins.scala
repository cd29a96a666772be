package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks as primitives, built scale-first: backward
  * as-of join, interval (range) self-join, and salted skew joins. None of
  * them materializes a cross product; each reduces to equi-join/window
  * machinery Catalyst already plans well.
  */
object Joins {

  /** Backward as-of join: for each left row, attach the latest right row of
    * the same key with `right.timeCol <= left.timeCol`.
    *
    * Implementation: tag and union both sides, then one windowed
    * `last(ignoreNulls)` pass partitioned by key and ordered by (time, tag)
    * with right rows sorting before left rows at equal timestamps — i.e.
    * ONE shuffle on the key, no range explosion, state O(1) per row. This
    * is the distributed as-of shape that survives billion-row sides.
    *
    * @param left     left side; all its columns are preserved
    * @param right    right side; its non-key/time columns are attached with
    *                 `asOfPrefix` (null where no prior right row exists)
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, asOfPrefix: String = "asof_"): DataFrame = {
    val rightVals = right.columns.filter(c => c != keyCol && c != timeCol)
    // genuinely NULL struct literals (not structs of null fields — those are
    // non-null values and would defeat last(ignoreNulls))
    def nullStruct(df: DataFrame, cols: Seq[String]) =
      lit(null).cast(org.apache.spark.sql.types.StructType(
        cols.map(c => df.schema(c)).toIndexedSeq))

    val taggedLeft = left.select(
      col(keyCol).as("_k"), col(timeCol).as("_t"), lit(1).as("_is_left"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("_l"),
      nullStruct(right, rightVals.toIndexedSeq).as("_r"))
    val taggedRight = right.select(
      col(keyCol).as("_k"), col(timeCol).as("_t"), lit(0).as("_is_left"),
      nullStruct(left, left.columns.toIndexedSeq).as("_l"),
      struct(rightVals.toIndexedSeq.map(col): _*).as("_r"))

    // Tertiary sort on the right-value struct itself: several right rows
    // can share (key, time), and (_t, _is_left) alone is not a total order
    // over them — which row's values get attached would then depend on
    // shuffle arrival order (and could flap against any oracle). Struct
    // comparison is lexicographic over the right value columns, so the
    // LARGEST right tuple deterministically wins a timestamp tie. Left
    // rows all carry a null struct — their mutual order is irrelevant
    // because _last_r ignores nulls.
    val w = Window.partitionBy("_k")
      .orderBy(col("_t"), col("_is_left"), col("_r").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = taggedLeft.unionByName(taggedRight)
      .withColumn("_last_r", last("_r", ignoreNulls = true).over(w))
      .filter(col("_is_left") === 1)

    val leftCols = left.columns.map(c => col(s"_l.$c").as(c))
    val rightCols = rightVals.map(c => col(s"_last_r.$c").as(s"$asOfPrefix$c"))
    joined.select((leftCols ++ rightCols).toIndexedSeq: _*)
  }

  /** Interval self-join: unordered pairs of rows whose `timeCol` values lie
    * within `intervalMs` of each other. Implementation: bucket timestamps
    * at interval granularity, explode one side into its bucket and the next
    * (any qualifying pair shares a bucket under this scheme), equi-join on
    * the bucket, then exact-filter — the standard banding that turns an
    * inequality join into one shuffled equi-join.
    */
  def withinInterval(df: DataFrame, idCol: String, timeCol: String,
                     intervalMs: Long): DataFrame = {
    val withBucket = df.select(
      col(idCol), col(timeCol),
      (unix_micros(col(timeCol).cast("timestamp")) / lit(1000)).cast("long").as("_ms"))
      .withColumn("_bucket", (col("_ms") / intervalMs).cast("long"))
    // probe all three adjacent buckets: the id_a < id_b pair orientation is
    // independent of time order, so the partner may sit one bucket earlier
    val probe = withBucket.withColumn("_bucket",
      explode(array(col("_bucket") - 1, col("_bucket"), col("_bucket") + 1)))
    probe.as("a")
      .join(withBucket.as("b"),
        col("a._bucket") === col("b._bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(abs(col("a._ms") - col("b._ms")) <= intervalMs)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (col("b._ms") - col("a._ms")).as("delta_ms"))
      .distinct()
  }

  /** Salted equi-join for skewed fact keys: the fact side gets a
    * deterministic salt in [0, saltFactor), the dimension side is
    * replicated saltFactor times, and the join runs on (key, salt) —
    * splitting each hot key's rows across saltFactor reducers. Produces
    * EXACTLY the rows of the unsalted join.
    *
    * @param saltExpr deterministic per-row expression spreading fact rows
    *                 (e.g. pmod(hash(other_col), saltFactor))
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int, saltExpr: Column,
                 joinType: String = "inner"): DataFrame = {
    val factS = fact.withColumn("_salt", saltExpr)
    val dimS = dim.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    factS.join(dimS, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Bloom-pruned equi-join: before the fact side shuffles for the join,
    * filter it through a bloom filter built from the (already-filtered)
    * dimension keys — the explicit form of the semi-join reduction Spark's
    * own `InjectRuntimeFilter` plants under AQE, using the SAME catalyst
    * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
    * registered as `bloom_agg` / `bloom_might_contain` by GraftExtensions).
    *
    * Why it matters at 100 TB: when the dimension predicate is selective,
    * most fact rows shuffle only to be dropped by the join. The bloom probe
    * runs inside whole-stage codegen on the scan side of the exchange, so
    * those rows never leave their input partition. False positives cost
    * only wasted shuffle bytes — the equi-join re-applies the exact key
    * equality, so the RESULT is bit-identical to the plain join at any
    * false-positive rate (the spec forces a tiny, FP-heavy filter to pin
    * this down).
    *
    * The bloom itself is a driver-side constant, like Spark's runtime
    * filter (which ships it via a scalar subquery): one aggregated sketch
    * of `expectedItems` keys (~1.2 MB at 1M keys / 3% fpp), collected once
    * and inlined as a binary literal. `BloomFilterMightContain` requires a
    * constant bloom side, so this is also the only plannable shape.
    *
    * Null fact keys never probe true (xxhash64(null) is null), which is
    * correct for the inner equi-join this prunes for.
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                      dimKey: String, expectedItems: Long,
                      fpp: Double = 0.03): DataFrame = {
    // optimal bit count for the target fpp: m = -n ln(p) / (ln 2)^2
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloom = dim
      .select(expr(s"bloom_agg(xxhash64($dimKey), " +
        s"${expectedItems}L, ${numBits}L)").as("bf"))
      .head().getAs[Array[Byte]](0)
    // an empty dimension aggregates to a null sketch: nothing can match,
    // and the plain join against the empty side says so directly
    if (bloom == null) return fact.join(dim, fact(factKey) === dim(dimKey))
    val pruned = fact.filter(call_function("bloom_might_contain",
      lit(bloom), xxhash64(col(factKey))))
    pruned.join(dim, pruned(factKey) === dim(dimKey))
  }

  /** Blocked fuzzy self-join (entity resolution): pairs whose `strCol`
    * values agree on the first `blockLen` characters AND are within
    * `maxDist` edit distance. Blocking turns the quadratic all-pairs
    * comparison into one equi-join on the block key — the standard
    * record-linkage shape; candidates outside a shared block are
    * (deliberately, as in any blocking scheme) not compared. Levenshtein
    * runs only inside blocks.
    */
  def fuzzyJoin(df: DataFrame, idCol: String, strCol: String,
                blockLen: Int, maxDist: Int): DataFrame = {
    // banded thresholded kernel (graft.functions.LevenshteinWithin):
    // O(k*n) with row-min early exit instead of the full O(n^2) DP per
    // candidate pair — within a block almost every pair mismatches, and
    // the band bails on those after a couple of rows. The exact distance
    // is then recomputed only for the survivors (block-pair-count-bounded,
    // tiny next to the candidate count).
    val b = df.select(col(idCol), col(strCol),
      substring(col(strCol), 1, blockLen).as("_blk"))
    b.as("a")
      .join(b.as("b"),
        col("a._blk") === col("b._blk") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          expr(s"lev_within(a.$strCol, b.$strCol, $maxDist)"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a._blk").as("block"),
        levenshtein(col(s"a.$strCol"), col(s"b.$strCol")).as("dist"))
  }
}
