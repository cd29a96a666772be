package graft

/** Empirical attribution harness (guide §1.1/§7): time one named SparkEntry
  * query under Bench's protocol ([[Bench.measure]]: one warm run, then
  * median and min of the timed reps), then run it once more under the
  * [[JobMeter]]. Every run is a [[QueryScope]] named after the query.
  * Prints the jobs sorted by wall-clock with their task time, shuffle, job
  * group and the call site that submitted them, and the driver gaps
  * between jobs, so "where does this query spend its time" is answerable
  * without the UI (disabled in every session).
  * Usage: runMain graft.Profile <sfDir> <q1,q2,...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(",").toSeq)
    val spark = GraftSession.build()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t = Bench.measure(name)(QueryScope(spark, name)(Force.rows(fn(spark, sfDir))))
      println(f"[profile] $name median=${t.median}%.3f min=${t.min}%.3f " +
        t.reps.map(r => f"$r%.3f").mkString("reps=", ",", "") +
        t.error.fold("")(e => s" FAILED: $e"))
      val m = JobMeter(spark.sparkContext) {
        val t0 = System.nanoTime()
        QueryScope(spark, name)(Force.rows(fn(spark, sfDir)))
        (System.nanoTime() - t0) / 1e9
      }
      val js = m.jobs
      val jobWall = js.map(_.wallMs).sum / 1e3
      println(f"[profile] $name measured: ${m.value}%.3f s, ${js.size} jobs, " +
        f"job-wall sum $jobWall%.3f s, gc ${m.gcMs}ms " +
        "(gap = driver planning/manifest/localfs)")
      val mb = 1024.0 * 1024.0
      js.sortBy(-_.wallMs).take(12).foreach { j =>
        println(f"[profile]   job ${j.id}%3d ${j.wallMs / 1e3}%7.3f s  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskMs=${j.taskMs}%6d  " +
          f"shufW=${j.shuffleWrite / mb}%.1fMB  [${j.group}] ${j.site}")
      }
      // inter-job driver gaps (planning/manifest/local-fs), largest first
      js.sliding(2).collect {
        case Seq(a, b) if b.start - a.end > 100 =>
          (a.id, b.id, (b.start - a.end) / 1e3)
      }.toSeq.sortBy(-_._3).take(8).foreach { case (a, b, gap) =>
        println(f"[profile]   gap after job $a%3d -> $b%3d: $gap%7.3f s")
      }
    }
    spark.stop()
  }
}
