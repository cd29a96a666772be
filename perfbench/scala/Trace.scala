package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval around a call into a layer. Times are epoch
  * milliseconds, the clock Spark stamps its events with, advanced by
  * `System.nanoTime` so span durations do not jump with the wall clock. */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                 val startMs: Double) {
  var endMs = 0.0
  val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val taskMs = mutable.ArrayBuffer[Long]()
  def add(k: String, v: Double): Unit = counters(k) += v
}

/** In-memory span recorder plus the three listeners that attribute Spark
  * counters to spans. Each open span carries a job tag, so jobs (and their
  * stages and tasks) are attributed to the innermost span that submitted
  * them, including jobs run by streaming threads started inside the span. */
final class Tracer(sc: SparkContext) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val spanOfJob = mutable.HashMap[Int, Span]()
  private val spanOfStage = mutable.HashMap[Int, Span]()
  private val fileScanStages = mutable.HashSet[Int]()
  private val jobStart = mutable.HashMap[Int, Long]()
  val batches = mutable.ArrayBuffer[Map[String, Long]]()
  val sqlExecutions = mutable.ArrayBuffer[(Double, Map[String, Double])]()

  def span[T](name: String, layer: String)(f: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer, nowMs)
    spans += s
    stack.push(s)
    sc.addJobTag(tag(s.id))
    try f
    finally {
      sc.removeJobTag(tag(s.id))
      stack.pop()
      s.endMs = nowMs
    }
  }

  def current: Option[Span] = stack.headOption

  private def tag(id: Int) = s"perfbench-span-$id"

  private def innermost(tags: String): Option[Span] =
    Option(tags).toSeq.flatMap(_.split(","))
      .filter(_.startsWith("perfbench-span-"))
      .map(_.stripPrefix("perfbench-span-").toInt)
      .sorted.lastOption.map(spans(_))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).map(_.getProperty("spark.job.tags")).orNull
      innermost(tags).foreach { s =>
        spanOfJob(e.jobId) = s
        jobStart(e.jobId) = e.time
        s.add("jobs", 1)
        e.stageInfos.foreach { si =>
          spanOfStage(si.stageId) = s
          if (si.rddInfos.exists(_.name == "FileScanRDD")) fileScanStages += si.stageId
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (s <- spanOfJob.get(e.jobId); st <- jobStart.remove(e.jobId))
        s.jobIntervals += ((st, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      spanOfStage.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- spanOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.add("tasks", 1)
        s.add("task_cpu_ns", m.executorCpuTime)
        s.add("task_run_ms", m.executorRunTime)
        s.add("gc_ms", m.jvmGCTime)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        s.add("output_bytes", m.outputMetrics.bytesWritten)
        s.add("output_records", m.outputMetrics.recordsWritten)
        s.add("input_records", m.inputMetrics.recordsRead)
        // records read from input files, as opposed to cached blocks
        if (fileScanStages(e.stageId)) s.add("file_records", m.inputMetrics.recordsRead)
        s.taskMs += e.taskInfo.duration
      }
    }
  }

  /** Planning phases and file counts of every Dataset action a query runs
    * internally (writes, collects, counts), stamped with the phase start so
    * they can be attributed to the op that was running. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L).toDouble
      val files = nodes(qe.executedPlan).collect {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").fold(0.0)(_.value.toDouble)
      }.sum
      val rec = phases.map { case (k, v) => s"${k}_ms" -> v.durationMs.toDouble } ++
        Map("files" -> files, "actions" -> 1.0)
      synchronized { sqlExecutions += ((start, rec)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every node of a physical plan, through the wrappers `collect` stops at. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      val m = Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit")
        .flatMap(k => Option(d.get(k)).map(v => k -> v.longValue())).toMap
      synchronized { batches += m }
    }
  }
}
