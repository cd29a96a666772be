package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR under
  * one fixed protocol ([[measure]]) and prints ONE machine-parseable JSON
  * line. Every run of a query is a [[QueryScope]], so releasing what the
  * query cached or checkpointed is part of that run's time. Failures are never swallowed: each failing query is recorded in an
  * "errors" map (name -> exception class + message) and still contributes
  * its elapsed time, so a broken query can't masquerade as a fast one. The
  * full record (every query's median, min and reps) goes to [[DetailFile]],
  * which Bench writes and never reads: no run depends on an earlier one.
  */
object Bench {

  /** JSON string-literal body: escapes the quote, the backslash and every
    * control character (< 0x20), so error text or a query's SQL
    * carrying a tab or newline still leaves a line `json.load` accepts. */
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The battery's untimed set-up: silences two known-benign loggers, warms
    * the JVM, codegen and every table footer, then builds the shared query
    * artifacts. Returns each build's seconds.
    */
  def warmUp(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    // The only unpartitioned windows left are LIMIT-BOUNDED rank slices
    // (q_t13 ranks a <=100-row TakeOrdered result; Spark warns on any
    // empty partitionSpec regardless of input size, and PlanSpec bans the
    // unbounded class structurally while allowing exactly this shape) —
    // so WindowExec's single-partition WARN is known-benign noise in this
    // bench; silence the one logger so the tail stays clean.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // localCheckpoint re-registration emits a benign "Block rdd_N_i
    // already exists on this machine; not re-adding it" WARN (storing a
    // block that a prior action already stored — by design in
    // BlockManager). It carried the one stray WARN in the r11 bench tail;
    // same treatment as the window logger above.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.storage.BlockManager",
      org.apache.logging.log4j.Level.ERROR)
    // Untimed warmup: JVM/codegen/shuffle/Hadoop-FS init otherwise lands on
    // whichever query happens to iterate first (q1_agg, alphabetically — it
    // measured 2-3x its steady state before this was broadened). Exercise a
    // hash agg, an exchange, a broadcast join, the decimal-cast codegen
    // path, and every table's parquet footer once.
    import org.apache.spark.sql.functions.{broadcast, col, sum}
    val wl = spark.read.parquet(s"$sfDir/lineitem.parquet")
    wl.groupBy("l_returnflag").agg(sum("l_quantity")).count()
    wl.limit(1000)
      .join(broadcast(wl.select("l_orderkey").limit(10)), "l_orderkey")
      .count()
    wl.select(sum((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))).count()
    // the custom bloom aggregate + probe expressions JIT on first use
    // (measured: a 12.7s -> 0.9s rep decay on q_j8 before this line)
    val wbf = wl.limit(4096)
      .select(org.apache.spark.sql.functions.expr(
        "bloom_agg(xxhash64(l_orderkey), 4096L, 65536L)").as("bf"))
      .head().getAs[Array[Byte]](0)
    wl.limit(4096).filter(org.apache.spark.sql.functions.call_function(
      "bloom_might_contain", org.apache.spark.sql.functions.lit(wbf),
      org.apache.spark.sql.functions.xxhash64(col("l_orderkey")))).count()
    // footer + schema-cache warm: route through Tables.read so the one
    // schema inference per table happens HERE, untimed, exactly like the
    // footer reads this loop always did (r18 — queries then read with the
    // cached schema and pay no per-query inference job)
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => graft.operators.Tables.read(spark, sfDir,
        f.getName.stripSuffix(".parquet")).limit(1).count())
    // Untimed-but-REPORTED artifact builds: every built-once artifact a
    // timed query reads (indexes, pair sets, base tables) is built here,
    // once per session in the [[graft.operators.Artifacts]] store, so
    // per-query times stay query-only: q_v7/q_d7/q_d9 measure the probe
    // or join against the prebuilt index, q_v6/q_v9 the two outputs of
    // one dedup stage, q_l1 the merge and q_tar3/q_tar4 the replays.
    // Build costs are NOT hidden: each is timed here and lands in the
    // JSON as "builds", so cold-start cost = build + query.
    def timedBuild(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    import graft.operators.{DedupQueries, PipelineQueries, VectorQueries, WarcQueries}
    Seq(
      "ivf" -> timedBuild(DedupQueries.ivfCached(spark, sfDir)),
      "int8" -> timedBuild(VectorQueries.quantCached(spark, sfDir)),
      "d6_index" -> timedBuild(PipelineQueries.d6IndexCached(spark, sfDir)),
      "d9_index" -> timedBuild(PipelineQueries.d9IndexCached(spark, sfDir)),
      "l1_base" -> timedBuild(PipelineQueries.mergeBase(spark, sfDir)),
      "tar_pub" -> timedBuild(WarcQueries.tarPubTable(spark, sfDir)),
      "v6_pairs" -> timedBuild(DedupQueries.nearDupPairsShared(spark, sfDir).count()),
      "d3_pairs" -> timedBuild(DedupQueries.textPairsShared(spark, sfDir).count()),
      "d6_pairs" -> timedBuild(PipelineQueries.jaccardPairsShared(spark, sfDir).count()))
  }

  /** Timed runs per query. */
  val TimedReps = 3

  /** The full record's file: written by every run, read by none. */
  val DetailFile = "bench_out.json"

  /** The stdout line must survive a 2000-char tail capture (the consumer
    * only keeps the end of the log, and sbt appends a "[success]" line). */
  val MaxLine = 1800

  /** One query under [[measure]]: its timed reps in run order and the first
    * error of any of its runs. */
  final case class Timing(name: String, reps: Seq[Double], error: Option[String]) {
    def median: Double = reps.sorted.apply(reps.size / 2)
    def min: Double = reps.min
  }

  /** The one timing protocol of the battery: one untimed warm run, then
    * [[TimedReps]] timed runs, the same for every query. A run that throws
    * still counts its elapsed time; the first error of any run, the warm
    * one included, marks the query failed. NonFatal only: an OOM or linkage
    * error must kill the bench, not leave later runs on a broken JVM.
    */
  def measure(name: String)(run: => Unit): Timing = {
    def once(): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { run; None } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: $e")
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val warm = once()._2
    val timed = Seq.fill(TimedReps)(once())
    Timing(name, timed.map(_._1), (warm +: timed.map(_._2)).flatten.headOption)
  }

  def total(ts: Seq[Timing]): Double = ts.map(_.median).sum

  // Locale-fixed: under a comma-decimal default locale f"%.3f" would emit
  // "1,062" and break the JSON line.
  private def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  private def errors(ts: Seq[Timing], width: Int): Seq[(String, String)] =
    ts.collect { case Timing(k, _, Some(m)) => k -> s""""${esc(m.take(width))}"""" }

  /** The [[DetailFile]] line: every query's median, min and reps at full
    * precision, the builds and every error. */
  def detailLine(ts: Seq[Timing], builds: Seq[(String, Double)], sfDir: String): String =
    s"""{"metric":"total","value":${total(ts)},"unit":"sec",""" +
      s""""queries":${obj(ts.map(t => t.name -> t.median.toString))},""" +
      s""""min":${obj(ts.map(t => t.name -> t.min.toString))},""" +
      s""""reps":${obj(ts.map(t => t.name -> t.reps.mkString("[", ",", "]")))},""" +
      s""""builds":${obj(builds.map { case (k, v) => k -> v.toString })},""" +
      s""""errors":${obj(errors(ts, 200))},"n_errors":${ts.count(_.error.isDefined)},""" +
      s""""sf":"${esc(sfDir)}"}"""

  /** The stdout line: the total, as many of the slowest medians (rounded to
    * ms) as fit in [[MaxLine]], the builds, and the first three errors cut
    * to 60 chars. Every query is in the [[DetailFile]] line. */
  def stdoutLine(ts: Seq[Timing], builds: Seq[(String, Double)], sfDir: String): String = {
    val slowest = ts.sortBy(-_.median)
    def line(k: Int) =
      s"""{"metric":"total","value":${fmt(total(ts))},"unit":"sec",""" +
        s""""queries":${obj(slowest.take(k).sortBy(_.name).map(t => t.name -> fmt(t.median)))},""" +
        s""""builds":${obj(builds.map { case (b, v) => b -> fmt(v) })},""" +
        s""""n_queries":${ts.size},"errors":${obj(errors(ts, 60).take(3))},""" +
        s""""n_errors":${ts.count(_.error.isDefined)},"reps":$TimedReps,""" +
        s""""detail":"$DetailFile","sf":"${esc(sfDir)}"}"""
    (ts.size to 1 by -1).iterator.map(line).find(_.length <= MaxLine).getOrElse(line(0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    val builds = warmUp(spark, sfDir)
    val ts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      measure(name)(QueryScope(spark, name)(Force.rows(q(spark, sfDir))))
    }
    Files.writeString(Paths.get(DetailFile), detailLine(ts, builds, sfDir) + "\n")
    val line = stdoutLine(ts, builds, sfDir)
    require(line.length <= MaxLine, s"bench line too long for tail capture: ${line.length}")
    println(line)
    val failed = ts.count(_.error.isDefined)
    if (failed > 0) System.err.println(s"[bench] $failed queries failed — see errors map")
    spark.stop()
  }
}
