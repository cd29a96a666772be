package perfbench

import graft.candy.{CandyPipeline, Fulfillment, Forecast, Ingest, Outputs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

/** The benchmark's JVM side. It calls the program only through its public
  * entry points (`CandyPipeline.run` and the `Ingest.saveSingleCsv` sinks,
  * `SparkEntry.queries` with `Force.rows`, and the `graft.functions`
  * expressions) and writes the raw measurements as JSON for `run.py`,
  * which derives the metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs: workload, data, out, seconds, seed,
  * trace (0|1), tables (read by the kernel timings), queries (comma list,
  * mixes only) and write_queries (comma list, run after the passes of a
  * traced mix). With workload=setup the JVM only builds the session,
  * registers the extensions and records the time that took.
  */
final case class Op(section: String, pass: Int, name: String, seconds: Double, rows: Long, error: String,
                    spanId: Int, planMs: Map[String, Double], codegenMs: Double,
                    blocks: Long, storageBytes: Long, scratchBytes: Long)

/** Timed operations and optional spans of one run. In a traced run each op
  * also records its planning phases, codegen compile time and the
  * leftover-state gauges read right after it. */
final class Ctx(tracer: Option[Tracer], gauges: () => (Long, Long, Long)) {
  val ops = mutable.ArrayBuffer[Op]()
  /** "pass" for the timed passes, "write" for the traced write-path ops. */
  var section = "pass"

  def span[T](name: String, layer: String)(f: => T): T =
    tracer.fold(f)(_.span(name, layer)(f))

  /** Adds `n` to a counter of the innermost open span (traced runs only). */
  def count(counter: String, n: Double): Unit =
    tracer.foreach(_.current.foreach(_.add(counter, n)))

  /** One timed operation; a failure is recorded, never rethrown. */
  def op(pass: Int, name: String, layer: String)(f: => (Long, Option[DataFrame])): Unit = {
    val cg0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    var spanId = -1
    val (rows, df, err) =
      try {
        val (n, d) = span(name, layer) { spanId = tracer.flatMap(_.current).fold(-1)(_.id); f }
        (n, d, "")
      } catch { case e: Throwable => (-1L, None, s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (tracer.isDefined) {
      val phases = df.fold(Map.empty[String, Double])(
        _.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
      val (b, sb, scr) = gauges()
      ops += Op(section, pass, name, dt, rows, err, spanId, phases,
        (CodeGenerator.compileTime - cg0) / 1e6, b, sb, scr)
    } else ops += Op(section, pass, name, dt, rows, err, spanId, Map.empty, 0, 0, 0, 0)
  }
}

object Runner {

  /** Warm passes the end-to-end metrics are computed over, per workload.
    * Passes go on past these while fewer than `seconds` have elapsed, but
    * only the first ones are counted, so a faster program does not change
    * what a metric samples. */
  val WarmPasses = Map("candy_e2e" -> 4, "query_mix" -> 12)
  /** Runs of each write-path query in a traced mix: one cold, then warm. */
  val WriteRuns = 3

  /** The session every graft entry point needs for correctness, plus
    * extension registration: what a batch pays before its first op. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val out = conf("out")

    // Set-up: the first session build plus extension registration in this
    // JVM, class loading included.
    val t0 = System.nanoTime()
    val spark = session()
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    if (workload == "setup") {
      Files.write(Paths.get(s"$out/setup.json"), toJson(Map("setup_s" -> setupSeconds)).getBytes("UTF-8"))
      spark.stop()
      return
    }
    val data = conf("data")
    val seconds = conf("seconds").toDouble
    val seed = conf("seed").toLong
    val traced = conf("trace") == "1"
    val sc = spark.sparkContext
    val tracer = if (traced) {
      val t = new Tracer(sc)
      sc.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
      Some(t)
    } else None

    val scratchDirs = Seq(System.getProperty("java.io.tmpdir"), System.getProperty("graft.scratch.dir"))
    def scratchBytes: Long = scratchDirs.map(d => dirBytes(new File(d))).sum
    def gauges: (Long, Long, Long) = {
      val infos = sc.getRDDStorageInfo
      (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum,
        scratchBytes)
    }

    val ctx = new Ctx(tracer, () => gauges)
    import ctx.{op, span}
    val passSeconds = mutable.ArrayBuffer[Double]()
    val liveHeapBytes = mutable.ArrayBuffer[Long]()

    def query(pass: Int, q: String): Unit = op(pass, q, "operators") {
      val df = span("build", "operators")(graft.SparkEntry.queries(q)(spark, data))
      (span("force", "operators")(graft.Force.rows(df)), Some(df))
    }
    val passBody: Int => Unit = workload match {
      case "candy_e2e" =>
        pass => {
          candyPass(spark, data, s"$out/csv/${if (pass == 0) "cold" else "warm"}", pass, ctx)
          spark.catalog.clearCache()
        }
      case _ =>
        val names = conf("queries").split(",").toSeq
        pass => new Random(seed * 1000 + pass).shuffle(names).foreach(q => query(pass, q))
    }
    val warmPasses = WarmPasses(workload)

    // Pass 0 is the cold pass; warm passes then run until `seconds` have
    // elapsed and at least `warmPasses` of them have completed. In a traced
    // candy run each pass is followed, untimed, by the isolated stage timings.
    var pass = 0
    var warmStart = 0L
    while (pass <= warmPasses || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      if (pass == 1) warmStart = System.nanoTime()
      val t0 = System.nanoTime()
      span(s"pass-$pass", "bench")(passBody(pass))
      passSeconds += (System.nanoTime() - t0) / 1e9
      if (traced && workload == "candy_e2e") {
        span(s"stages-$pass", "bench")(candyStages(spark, data, ctx))
        spark.catalog.clearCache()
      }
      // untimed: each pass starts from a collected heap, as a batch in a
      // fresh JVM does, so no pass pays for the garbage of the one before;
      // what the collection leaves is the heap the program keeps live
      System.gc()
      liveHeapBytes += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      pass += 1
    }

    // Traced only: the write-path queries, cold then warm, for the sources
    // and streaming layers; they are not part of the timed passes.
    val writeQueries = conf.get("write_queries").toSeq.flatMap(_.split(","))
    ctx.section = "write"
    for (run <- 0 until WriteRuns; q <- writeQueries) {
      span(s"write-$run", "bench")(query(run, q))
      System.gc()
    }

    // Untimed: each mix query's result once more, for the oracle check.
    val checked = conf.get("queries").toSeq.flatMap(_.split(",")) ++ writeQueries
    for (q <- checked) {
      try graft.SparkEntry.queries(q)(spark, data).write.parquet(s"$out/verify/$q")
      catch { case e: Throwable => System.err.println(s"verify $q failed: $e") }
    }

    // Traced only: each native expression alone, in rows per second.
    val kernels = if (traced) Kernels.run(spark, conf("tables"), ctx) else Nil

    tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupSeconds,
      "warm_passes" -> warmPasses,
      "pass_s" -> passSeconds,
      "peak_rss_kb" -> rssKb,
      "live_heap_bytes" -> liveHeapBytes,
      "ops" -> ctx.ops.map(o => Map("section" -> o.section, "pass" -> o.pass, "name" -> o.name, "s" -> o.seconds,
        "rows" -> o.rows, "error" -> o.error, "span" -> o.spanId, "plan_ms" -> o.planMs,
        "codegen_ms" -> o.codegenMs, "blocks" -> o.blocks, "storage_bytes" -> o.storageBytes,
        "scratch_bytes" -> o.scratchBytes)),
      "kernels" -> kernels.map { case (name, rows, s) => Map("name" -> name, "rows" -> rows, "s" -> s) },
      "oracles" -> checked.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap)
    tracer.foreach { t =>
      result("spans") = t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "counters" -> s.counters.toMap, "task_ms" -> s.taskMs,
        "jobs" -> s.jobIntervals.map { case (a, b) => Seq(a, b) }))
      result("sql") = t.sqlExecutions.map { case (start, m) => Map("start_ms" -> start, "m" -> m) }
      result("batches") = t.batches
    }
    Files.write(Paths.get(s"$out/result.json"), toJson(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** The five sinks in `CandyPipeline.main`'s order, each with the name of
    * the op (and, traced, the span) that writes it. */
  private val sinks = Seq(
    "candy.outputs.inventory" -> "products_updated.csv",
    "candy.outputs.orders" -> "orders.csv",
    "candy.outputs.line_items" -> "order_line_items.csv",
    "candy.outputs.daily" -> "daily_summary.csv",
    "candy.outputs.forecast" -> "sales_profit_forecast.csv")

  /** One daily batch exactly as `CandyPipeline.main` runs it, traced or not:
    * `CandyPipeline.run`, then the five sinks, one op each. */
  def candyPass(spark: SparkSession, data: String, dir: String, pass: Int, ctx: Ctx): Unit = {
    import ctx.op
    var r: CandyPipeline.Results = null
    op(pass, "candy.run", "candy") { r = CandyPipeline.run(spark, data); (0L, None) }
    if (r != null) {
      val frames = Seq(r.productsUpdated, r.orders, r.orderLineItems, r.dailySummary, r.forecast)
      for ((df, (name, file)) <- frames.zip(sinks))
        op(pass, name, "candy") { Ingest.saveSingleCsv(df, dir, file); (0L, None) }
    }
  }

  /** Traced only, outside the timed pass: the stage functions that
    * `CandyPipeline.run` composes (with its default fold kernel), each
    * alone in a span. A stage's input is cached and forced before its span
    * opens, so the span holds that stage's own work. The batch itself caches
    * only `fulfilled` and `daily`; these extra caches exist only here. */
  def candyStages(spark: SparkSession, data: String, ctx: Ctx): Unit = {
    import ctx.{count, span}
    implicit val s: SparkSession = spark
    val transactions = span("candy.ingest", "candy") {
      val t = Ingest.readTransactionsOrdered(spark, data).cache()
      count("rows", t.count().toDouble); t
    }
    val products = Ingest.readProducts(spark, s"$data/products.csv").cache()
    products.count()
    val items = span("candy.prepare", "candy") {
      val i = Outputs.prepareItems(transactions).cache()
      count("rows", i.count().toDouble); i
    }
    val inventory = Fulfillment.snapshot(products)
    val fulfilled = span("candy.fulfillment", "candy") {
      val f = Fulfillment.run(spark, items, inventory).cache()
      count("rows", f.count().toDouble); f
    }
    val daily = Outputs.dailySummary(Outputs.ordersFinal(transactions, fulfilled),
      Outputs.lineItemsFinal(fulfilled), products).cache()
    daily.count()
    span("candy.forecast", "candy")(Forecast.forecastSalesAndProfits(spark, daily).collect())
  }

  def toJson(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case s: String => s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) {
      // Spark's own block-manager and shuffle directories are session
      // state, not files the program left behind
      if (f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-")) 0L
      else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    } else f.length()
}
