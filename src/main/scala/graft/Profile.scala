package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Empirical attribution harness (guide §1.1/§7): run one named SparkEntry
  * query warm, then once more under a listener that records every job's
  * wall time, task time, and the call site that submitted it. Prints the
  * jobs sorted by wall-clock so "where does this query spend its time" is
  * answerable without the UI (disabled in the bench session).
  * Usage: runMain graft.Profile <sfDir> <q1,q2,...> [warmIters]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(",").toSeq)
    val warm = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.build()
    final case class Job(id: Int, var site: String = "", var start: Long = 0L,
                         var end: Long = 0L, var stages: Int = 0,
                         var tasks: Int = 0, var taskMs: Long = 0L,
                         var stageName: String = "")
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = jobs.getOrElseUpdate(e.jobId, Job(e.jobId))
        j.start = e.time
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val info = e.stageInfo
          stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += info.numTasks
            j.taskMs += (for {s <- info.submissionTime; c <- info.completionTime}
              yield c - s).getOrElse(0L)
            if (j.stageName.isEmpty) j.stageName = info.name.take(70)
          }
        }
    }
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = {
      var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to warm).foreach { i =>
        val t0 = System.nanoTime()
        Force.rows(fn(spark, sfDir))
        println(f"[profile] $name warm $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val gc0 = gcMs
      val t0 = System.nanoTime()
      Force.rows(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      val gcD = gcMs - gc0
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.synchronized(jobs.values.toSeq)
      val jobWall = js.map(j => (j.end - j.start) / 1e3).sum
      println(f"[profile] $name measured: $wall%.3f s, ${js.size} jobs, " +
        f"job-wall sum $jobWall%.3f s, gc ${gcD}ms " +
        "(gap = driver planning/manifest/localfs)")
      js.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"[profile]   job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d stageMs=${j.taskMs}%6d  " +
          f"${j.site} ${j.stageName}")
      }
      // inter-job driver gaps (planning/manifest/local-fs), largest first
      val ordered = js.sortBy(_.start)
      ordered.sliding(2).collect {
        case Seq(a, b) if b.start - a.end > 100 =>
          (a.id, b.id, (b.start - a.end) / 1e3)
      }.toSeq.sortBy(-_._3).take(8).foreach { case (a, b, gap) =>
        println(f"[profile]   gap after job $a%3d -> $b%3d: $gap%7.3f s")
      }
    }
    spark.stop()
  }
}
