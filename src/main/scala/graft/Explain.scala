package graft
import java.nio.file.{Files, Paths}

/** Plan-review artifact: dumps every declared query's FORMATTED physical
  * plan at sf0.001 into one markdown file (PLANS.md). This is the
  * "explain and iterate" evidence trail — broadcast choices, pushed
  * filters, pruned read schemas, and exchange counts for the whole query
  * battery, reviewable without running anything.
  * Usage: Explain [sfDir] [outFile]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.build(cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(s"# Physical plans — formatted explain of every declared query at $sfDir\n")
    sb.append("\nGenerated by `graft.Explain`. Plans are pre-execution (AQE may\n")
    sb.append("further coalesce partitions / switch join strategies at runtime).\n\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // The output-schema line makes engine-vs-oracle TYPE drift (the
      // DuckDB HUGEINT-as-float64 class) reviewable without running
      // anything: the driver hashes typed values, so `n: bigint` here must
      // mean the oracle emits an integer column too.
      val (schemaLine, body) =
        try {
          val df = fn(spark, sfDir)
          (df.schema.fields
            .map(f => s"${f.name}: ${f.dataType.simpleString}")
            .mkString(", "),
            df.queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => ("<error>", s"ERROR: ${e.getMessage}") }
      sb.append(s"## $name\n\nOutput schema: `$schemaLine`\n\n```\n$body```\n\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote ${SparkEntry.queries.size} plans to $out")
    spark.stop()
  }
}
