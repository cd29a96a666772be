package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query runs
  * in its own [[QueryScope]]; NonFatal failures are logged and skipped, an
  * OOM or linkage error ends the run. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Set.empty[String])
      case Array(s, o, f) => (s, o, f.split(",").toSet)
    }
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try QueryScope(spark, name)(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a tab or CR left raw in the SQL would make json.load reject the
    // whole file and zero the round's correctness
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
