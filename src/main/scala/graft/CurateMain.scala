package graft

/** CLI for the end-to-end curation build: documents.parquet in, packed
  * split corpus + one-line JSON report out.
  * Usage: runMain graft.CurateMain <sfDir> <outDir> [seed]
  */
object CurateMain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val seed = if (args.length > 2) args(2) else "graft-curate-1"
    val spark = GraftSession.build()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val r = operators.Curation.curate(docs, outDir, seed)
    val splits = r.splitCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"n_input":${r.nInput},"after_quality":${r.nAfterQuality},""" +
      s""""after_exact_dedup":${r.nAfterExactDedup},""" +
      s""""after_near_dedup":${r.nAfterNearDedup},"splits":{$splits},""" +
      s""""n_bins":${r.nBins},"n_tokens":${r.nTokens}}""")
    spark.stop()
  }
}
