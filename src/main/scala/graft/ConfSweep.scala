package graft
import java.nio.file.{Files, Paths}

/** MEASUREMENT TOOLING (like [[Profile]] — not a query path, not part of
  * the bench contract): run every SparkEntry query single-shot under a
  * given set of session-conf overrides and print total + per-query JSON,
  * so config candidates can be A/B-compared against a control run of the
  * same tool without touching [[Bench]]'s methodology. Usage:
  *   runMain graft.ConfSweep <outFile> [k=v,k=v,...] [namePrefixFilter]
  * Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object ConfSweep {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val overrides: Map[String, String] =
      if (args.length > 1 && args(1).nonEmpty)
        args(1).split(",").map { kv =>
          val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
        }.toMap
      else Map.empty
    val prefix = if (args.length > 2) args(2) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench's session and untimed set-up: the control for every sweep
    val spark = GraftSession.build(conf = overrides)
    Bench.warmUp(spark, sfDir)

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var t = 0L; gcBeans.forEach(x => t += x.getCollectionTime); t }
    val gc0 = gcMs
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(_.startsWith(prefix))
    val timed = names.map { name =>
      val t0 = System.nanoTime()
      val err = try { Force.rows(SparkEntry.queries(name)(spark, sfDir)); None }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[sweep] $name FAILED: $e"); Some(e.toString.take(120)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val total = timed.map(_._2).sum
    val gcD = gcMs - gc0
    val qs = timed.map { case (k, v, _) => s""""$k":$v""" }.mkString("{", ",", "}")
    val errs = timed.collect { case (k, _, Some(m)) => s""""$k":"${Bench.esc(m)}"""" }
      .mkString("{", ",", "}")
    val line = s"""{"total":$total,"gc_ms":$gcD,"n":${timed.size},"queries":$qs,"errors":$errs,"overrides":"${Bench.esc(args.lift(1).getOrElse(""))}"}"""
    Files.writeString(Paths.get(out), line + "\n")
    println(f"[sweep] total ${total}%.1f s, gc ${gcD}ms, n=${timed.size}, errors=${timed.count(_._3.isDefined)} -> $out")
    spark.stop()
  }
}
