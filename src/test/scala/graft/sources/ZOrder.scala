package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order curve value for multi-column clustering in the layout specs:
  * each column is quantile-bucketed into 2^bitsPerCol ranks (cutpoints
  * from a sampled approxQuantile — no global sort), and the bucket bits
  * are interleaved so that sorting by the result keeps every
  * participating column locally dense. A plain sort bounds the min/max
  * range of its leading column only; z-order bounds all of them, so
  * per-file stats skip data for predicates on any clustered column.
  */
object ZOrder {

  def value(df: DataFrame, cols: Seq[String], bitsPerCol: Int = 4): Column = {
    require(cols.nonEmpty && bitsPerCol >= 1 && cols.size * bitsPerCol <= 60)
    val nBuckets = 1 << bitsPerCol
    // sample-based cutpoints: (2^b - 1) inner quantiles per column
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val cuts = df.stat.approxQuantile(cols.toArray, probs, 0.01)
    val bucketCols = cols.zip(cuts).map { case (c, cut) =>
      // rank = number of cutpoints <= value (codegen'd comparison chain)
      cut.foldLeft(lit(0)) { (acc, q) =>
        acc + when(col(c).cast("double") >= q, 1).otherwise(0)
      }
    }
    // interleave: bit j of column k lands at position j*nCols + k
    val n = cols.size
    (0 until bitsPerCol).flatMap { j =>
      bucketCols.zipWithIndex.map { case (b, k) =>
        shiftleft(shiftright(b.cast("long").bitwiseAND(lit(1L << j)), j), j * n + k)
      }
    }.reduce(_ bitwiseOR _)
  }
}
