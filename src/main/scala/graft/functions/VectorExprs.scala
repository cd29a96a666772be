package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector arithmetic over `array<float>` embedding columns, built entirely
  * from Spark's codegen'd higher-order collection expressions (zip_with /
  * aggregate) — no UDFs, so similarity computations stay inside whole-stage
  * codegen. All accumulation is double-precision sequential left-to-right,
  * which keeps results deterministic and oracle-comparable.
  */
object VectorExprs {

  /** dot(a, b) as a double. */
  def dot(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")

  /** L2 norm of a vector column. */
  def l2Norm(a: String): Column = expr(
    s"sqrt(aggregate($a, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")

  /** Cosine similarity via the native codegen'd expression
    * (graft.functions.CosineSimilarity) — bit-identical results to the
    * declarative `dot(a, b) / (l2Norm(a) * l2Norm(b))`, ~an order of
    * magnitude faster on wide fan-outs because it stays in whole-stage
    * codegen with zero per-row allocation.
    */
  def cosineFast(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")
}
