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
      // r18: localCheckpoint blocks from finished queries stay pinned until
      // the ContextCleaner sees their RDD objects die — and that needs a
      // driver full GC, which Spark only forces every
      // spark.cleaner.periodicGC.interval (default 30 min — never inside a
      // battery). Stale blocks occupy the non-evictable half of the unified
      // pool (spark.memory.storageFraction), so later queries run
      // execution-memory-starved: paired single-shot-battery A/B measured
      // 255.0 s -> 225.1 s (geomean 0.916) at a 30 s interval, with the
      // post-lifecycle e-class queries recovering 6-8x (q_e1 3.29 ->
      // 0.45). Interval tuned against the 3-rep-median bench: 30 s taxes
      // the tail with stop-the-world pauses (186.5 s total) while 120 s
      // keeps the cleanup and drops the tax (165.3 s vs 179.9 s without
      // the conf). A long-lived session with high query turnover wants the
      // cleaner interval scaled to turnover, not wall-clock defaults.
      .config("spark.cleaner.periodicGC.interval", "120s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.GraftExtensions.register(spark)
    spark
  }
}
