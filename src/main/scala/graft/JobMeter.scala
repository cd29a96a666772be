package graft

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One Spark job seen by [[JobMeter]]. `site` is the call site Spark names
  * the job's final stage after; `group` is the job group it ran under (the
  * [[QueryScope]] name, "" if none); `start`/`end` are epoch ms; `taskMs` is
  * the summed executor run time of the job's tasks; byte counts are summed
  * over its tasks and `peakExecMem` is the largest task's peak execution
  * memory.
  */
final case class JobRecord(id: Int, site: String, group: String, start: Long,
                           end: Long = 0L,
                           stages: Int = 0, tasks: Int = 0, taskMs: Long = 0L,
                           shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
                           memSpill: Long = 0L, diskSpill: Long = 0L,
                           peakExecMem: Long = 0L) {
  def wallMs: Long = end - start
}

/** What a metered block returned, the jobs it ran in start order, and the
  * driver GC time spent while it ran. */
final case class Metered[A](value: A, jobs: Seq[JobRecord], gcMs: Long)

/** The harness's one job and task meter: [[apply]] runs a block under a
  * listener and returns a record per Spark job the block started. The
  * listener bus is drained before the block, so no earlier job leaks in,
  * and after it, so every task of the block's jobs is counted. Profile
  * prints these records; ScaleBench sums them per leg.
  */
object JobMeter {

  private def gcMs: Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += b.getCollectionTime)
    t
  }

  def apply[A](sc: SparkContext)(body: => A): Metered[A] = {
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRecord]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    def update(stageId: Int)(f: JobRecord => JobRecord): Unit =
      stageToJob.get(stageId).foreach(id => jobs(id) = f(jobs(id)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
        val group = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs(e.jobId) = JobRecord(e.jobId, site, group, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          update(e.stageInfo.stageId)(j => j.copy(stages = j.stages + 1))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        val m = e.taskMetrics
        if (m != null) update(e.stageId) { j =>
          j.copy(tasks = j.tasks + 1, taskMs = j.taskMs + m.executorRunTime,
            shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
            shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
            memSpill = j.memSpill + m.memoryBytesSpilled,
            diskSpill = j.diskSpill + m.diskBytesSpilled,
            peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory))
        }
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val gc0 = gcMs
      val value = body
      val gc = gcMs - gc0
      ListenerBusDrain(sc)
      Metered(value, jobs.synchronized(jobs.values.toSeq), gc)
    } finally sc.removeSparkListener(listener)
  }
}
