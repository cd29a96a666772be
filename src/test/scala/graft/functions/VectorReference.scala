package graft.functions

import org.apache.spark.sql.Column

/** Declarative references the vector specs compare the native kernels
  * against. */
object VectorReference {

  /** Cosine similarity in [-1, 1] (declarative HOF formulation). */
  def cosine(a: String, b: String): Column =
    VectorExprs.dot(a, b) / (VectorExprs.l2Norm(a) * VectorExprs.l2Norm(b))
}
