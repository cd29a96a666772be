package perfbench

import graft.functions.BpeExprs
import graft.operators.Tokenizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Each native expression alone: a projection of the one expression over a
  * cached input, forced with `Force.rows`, so its time is the kernel plus a
  * fixed per-job cost that the input size amortises. */
object Kernels {
  val Copies = 100
  val Reps = 3

  def run(spark: SparkSession, data: String, ctx: Ctx): Seq[(String, Long, Double)] = {
    def replicated(table: String): DataFrame =
      spark.range(Copies).crossJoin(spark.read.parquet(s"$data/$table.parquet"))
        .repartition(spark.sparkContext.defaultParallelism).cache()
    val docs = replicated("documents")
    val vecs = replicated("embeddings")
    val small = spark.read.parquet(s"$data/documents.parquet")
    val bloom = small.filter(col("doc_id") % 2 === 0)
      .select(expr("bloom_agg(xxhash64(doc_id), 1000L, 65536L)")).head().getAs[Array[Byte]](0)
    val codec = Tokenizer.codecOf(Tokenizer.bpeTrainLocal(small, "text", numMerges = 6))
    val words = docs.select(explode(split(col("text"), " ")).as("word")).cache()
    val kernels: Seq[(String, DataFrame, Column)] = Seq(
      ("minhash_sig", docs, expr("minhash_sig(array_distinct(split(text, ' ')), 64)")),
      ("simhash60", docs, expr("simhash60(split(text, ' '))")),
      ("cosine_sim", vecs, expr("cosine_sim(embedding, reverse(embedding))")),
      ("lev_within", docs, expr("lev_within(substr(text, 1, 48), substr(text, 49, 48), 8)")),
      ("url_canonical", docs, expr("url_canonical(concat('HTTP://WWW.Example-', source, " +
        "'.COM:80/a/./b/../', lang, '?z=1&a=', cast(doc_id AS string), '#frag'))")),
      ("nfc_normalize", docs, expr("nfc_normalize(text)")),
      ("bloom_might_contain", docs,
        call_function("bloom_might_contain", lit(bloom), xxhash64(col("doc_id")))),
      ("bpe_encode", words, BpeExprs.encodeTokens(col("word"), codec)))
    val out = for ((name, input, kernel) <- kernels) yield {
      val rows = graft.Force.rows(input)
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        ctx.span(s"functions.$name", "functions")(graft.Force.rows(input.select(kernel.as(name))))
        (System.nanoTime() - t0) / 1e9
      }
      (name, rows, times.sorted.apply(Reps / 2))
    }
    Seq(docs, vecs, words).foreach(_.unpersist())
    out
  }
}
