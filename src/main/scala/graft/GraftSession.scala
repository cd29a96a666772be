package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Every main and the test suite go
  * through [[build]], so each session carries the same correctness settings,
  * the same tunings and graft's SQL functions from the start.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every processor of the box. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Builds (or returns the live) session: master `SPARK_MASTER`, else
    * `local[cpus]`; `cpus` shuffle partitions; UTC session time zone,
    * parquet nanosecond timestamps read as longs, no UI. Log level WARN,
    * graft's SQL functions registered.
    */
  def build(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // r18 (config after algorithm): the generated-class cache default
      // (100 entries) thrashes under a battery of 241 distinct plans —
      // kernel-heavy queries re-Janino-compile subtrees that an earlier
      // query already compiled. 8192 entries holds the whole battery
      // (measured: -12.6 s / geomean 0.936 over the full single-shot
      // battery, wins concentrated in the kernel queries). Any long-lived
      // session running many distinct queries wants the same headroom; the
      // cost is bounded driver metaspace.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.GraftExtensions.register(spark)
    spark
  }
}
