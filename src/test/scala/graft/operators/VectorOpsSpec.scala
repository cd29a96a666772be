package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType}

/** Int8 quantization: storage type, error bound, reconstruction quality,
  * and the zero-vector edge case.
  */
class VectorOpsSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val emb = spark.read.parquet(sfDir("0.001") + "/embeddings.parquet")

  test("quantized column is array<tinyint> with codes in [-127, 127]") {
    val q = VectorOps.quantizeWithError(emb, "embedding")
    assert(q.schema("q_emb").dataType == ArrayType(ByteType, containsNull = false) ||
      q.schema("q_emb").dataType == ArrayType(ByteType, containsNull = true))
    val bounds = q.select(
      expr("aggregate(q_emb, CAST(127 AS TINYINT), (a, v) -> least(a, v))").as("lo"),
      expr("aggregate(q_emb, CAST(-127 AS TINYINT), (a, v) -> greatest(a, v))").as("hi"))
      .agg(min("lo"), max("hi")).head()
    assert(bounds.getByte(0) >= -127 && bounds.getByte(1) <= 127)
  }

  test("reconstruction error bounded by scale/2 and cosine stays near 1") {
    val q = VectorOps.quantizeWithError(emb, "embedding")
    val viol = q.filter(col("max_abs_err") > col("q_scale") * 0.5 + lit(1e-9)).count()
    assert(viol == 0, s"$viol vectors exceed the scale/2 error bound")
    val worst = q.agg(min("cosine_recon")).head().getDouble(0)
    // 64-dim unit vectors at 8-bit precision: reconstruction cosine ~1
    assert(worst > 0.999, s"worst reconstruction cosine $worst")
  }

  test("zero vector quantizes to zero codes with zero error") {
    val z = Seq((1L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val r = VectorOps.quantizeWithError(z, "embedding").head()
    assert(r.getAs[Seq[Byte]]("q_emb").forall(_ == 0))
    assert(r.getAs[Double]("max_abs_err") == 0.0)
  }

  test("quantization is a pure row-local map: no exchange in the plan") {
    val plan = VectorOps.quantizeWithError(emb, "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("quantized two-phase top-k equals brute force for several queries") {
    val quant = VectorOps.quantizedTable(emb, "vec_id", "embedding")
    for (qid <- Seq(0L, 7L, 42L)) {
      val queryVec = emb.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val rest = emb.filter(col("vec_id") =!= qid)
      // brute force with the SAME sequential-fold arithmetic the rerank
      // (and the DuckDB oracle) uses — cosineFast associates differently
      // in the 6th decimal
      val brute = rest
        .withColumn("q_vec", typedLit(queryVec.toSeq))
        .selectExpr("vec_id",
          "round(aggregate(zip_with(embedding, q_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)" +
            " / (sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))" +
            " * sqrt(aggregate(q_vec, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cosine")
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10).collect().toSeq
      val twoPhase = VectorOps.quantizedTopK(rest,
          quant.filter(col("vec_id") =!= qid), "vec_id", "embedding", queryVec, 10)
        .collect().toSeq
      assert(twoPhase.map(_.getLong(0)) == brute.map(_.getLong(0)),
        s"query $qid: id sets differ")
      assert(twoPhase.map(_.getDouble(1)) == brute.map(_.getDouble(1)),
        s"query $qid: cosines differ")
    }
  }

  test("quantized corpus parquet is under half the float corpus bytes") {
    def dirBytes(p: java.io.File): Long =
      if (p.isDirectory) p.listFiles().map(dirBytes).sum
      else if (p.getName.endsWith(".parquet")) p.length else 0L
    val out = java.nio.file.Files.createTempDirectory("quant").toFile
    VectorOps.quantizedTable(emb, "vec_id", "embedding")
      .write.mode("overwrite").parquet(out.getPath)
    val qBytes = dirBytes(out)
    val fBytes = dirBytes(new java.io.File(sfDir("0.001") + "/embeddings.parquet"))
    assert(qBytes > 0 && qBytes < fBytes / 2,
      s"quantized $qBytes bytes vs float $fBytes — phase-1 scan should read <1/2 the bytes")
  }
}
