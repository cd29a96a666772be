package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a scaled copy of a testdata dir (sf0.1 x factor ~= sf1) with
  * KEY-SPACE EXPANSION, so scaling curves measure operator cost — not
  * replication artifacts:
  *
  *  - TPC-H-ish tables: every key column is shifted per replica
  *    (orderkey/custkey/suppkey/partkey), so joins only match within a
  *    replica and per-key group sizes stay constant while key cardinality
  *    grows linearly — the shape of a corpus that actually grew.
  *  - documents: every token gets a per-replica vocabulary prefix. Within a
  *    replica all shingle relations (and so all Jaccard values) are exactly
  *    preserved; across replicas no shingle ever collides, so near-dup pair
  *    counts grow LINEARLY with the corpus — new content is unrelated to
  *    old content, which is what real corpus growth looks like.
  *  - embeddings: each replica applies an orthogonal transform (per-replica
  *    sign flips + cyclic dimension shift) — within-replica cosines are
  *    bit-preserved, cross-replica cosines behave like random-pair
  *    background. Because the source corpus is near-uniform random (its
  *    >=0.4 pair count is background, hence inherently quadratic in corpus
  *    size), the synthesizer additionally PLANTS deterministic near-dup
  *    twins (cosine ~0.95-0.99) for 1-in-40 vectors; a threshold above the
  *    random background (ScaleBench uses 0.9) then isolates true near-dup
  *    structure, which grows linearly.
  *
  * Usage: SynthScale <srcDir> <outDir> <factor>
  */
object SynthScale {
  // Per-replica key offsets — larger than any source key cardinality.
  private val KOrder = 10000000L
  private val KCust  = 1000000L
  private val KSupp  = 100000L
  private val KPart  = 1000000L
  private val KEvent = 10000000L
  private val KUser  = 1000000L
  private val KDoc   = 10000000L
  private val KVec   = 10000000L
  /** Offset distinguishing a planted twin from its base vector. */
  private val TwinOffset = 5000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val spark = GraftSession.build()
    synthesize(spark, src, out, factor)
    spark.stop()
  }

  def synthesize(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")
    // Replicate with a `rep` column; crossJoin(range) would produce a
    // single-partition BNLJ, so the caller repartitions on write.
    def reps(df: DataFrame): DataFrame =
      spark.range(factor).withColumnRenamed("id", "rep").crossJoin(df)

    // Fixed small dims: shared across replicas (nationkey references stay valid).
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(reps(read("customer"))
      .withColumn("c_custkey", col("c_custkey") + col("rep") * KCust)
      .drop("rep"), "customer", math.max(1, factor / 2))

    write(reps(read("supplier"))
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * KSupp)
      .drop("rep"), "supplier", 1)

    write(reps(read("part"))
      .withColumn("p_partkey", col("p_partkey") + col("rep") * KPart)
      .drop("rep"), "part", math.max(1, factor / 2))

    write(reps(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * KOrder)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * KCust)
      .drop("rep"), "orders", cores)

    write(reps(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * KOrder)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * KPart)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * KSupp)
      .drop("rep"), "lineitem", cores)

    write(reps(read("events"))
      .withColumn("event_id", col("event_id") + col("rep") * KEvent)
      .withColumn("user_id", col("user_id") + col("rep") * KUser)
      .drop("rep"), "events", cores)

    // Documents: per-replica vocabulary shard (token prefix). Jaccard
    // relations within a replica are exactly those of the source corpus.
    write(reps(read("documents"))
      .withColumn("doc_id", col("doc_id") + col("rep") * KDoc)
      .withColumn("text",
        array_join(
          transform(
            filter(split(col("text"), " "), x => x =!= ""),
            x => concat(col("rep").cast("string"), lit("_"), x)),
          " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"), "documents", cores)

    // Embeddings: plant twins on the base corpus first, then replicate via
    // per-replica orthogonal transforms (twin geometry is preserved in every
    // replica). Twin = base + deterministic per-dimension noise at ~20% of
    // the vector's RMS component magnitude -> cosine ~0.95-0.99.
    val emb = read("embeddings")
    val twins = emb
      .filter(pmod(col("vec_id"), lit(40)) === 1)
      .withColumn("vec_id", col("vec_id") + TwinOffset)
      .withColumn("rms",
        sqrt(expr("aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)")
          / size(col("embedding"))))
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
          |  CAST(x + rms * 0.2 * (pmod(hash(vec_id, i), 2001) - 1000) / 1000.0 AS FLOAT))"""
          .stripMargin))
      .drop("rms")
    val base = emb.unionByName(twins)
    // rep 0 is the identity transform (vec_id 0 keeps its original vector,
    // so top-k queries against it are comparable across scales); rep r
    // applies sign flips keyed on (rep, source dim) and a cyclic shift of
    // rep*7 positions — orthogonal, so within-replica cosines are exact.
    write(reps(base)
      .withColumn("vec_id", col("vec_id") + col("rep") * KVec)
      .withColumn("embedding", expr(
        """CASE WHEN rep = 0 THEN embedding ELSE
          |  transform(sequence(0, size(embedding) - 1), i ->
          |    CAST((CASE WHEN pmod(hash(rep, pmod(i + rep * 7, size(embedding))), 2) = 0
          |          THEN 1.0 ELSE -1.0 END)
          |      * element_at(embedding,
          |          CAST(pmod(i + rep * 7, size(embedding)) AS INT) + 1) AS FLOAT))
          |END""".stripMargin))
      .drop("rep"), "embeddings", math.max(1, factor / 2))
  }
}
