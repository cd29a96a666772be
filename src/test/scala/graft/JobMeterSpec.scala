package graft

/** [[JobMeter]] counts the tasks and shuffle of the jobs its block runs, and
  * nothing after the block: its listener is gone when it returns. */
class JobMeterSpec extends SparkTestBase {

  test("a metered shuffle reports its tasks and shuffle write, and the next window starts empty") {
    val m = JobMeter(spark.sparkContext) {
      spark.range(0, 10000, 1, 4).repartition(3).count()
    }
    assert(m.value == 10000L)
    assert(m.jobs.nonEmpty && m.jobs.forall(j => j.end >= j.start && j.site.nonEmpty))
    assert(m.jobs.map(_.shuffleWrite).sum > 0L)
    assert(m.jobs.map(_.shuffleRead).sum > 0L)
    // 4 map tasks over the range, 3 reduce tasks after the repartition
    assert(m.jobs.map(_.tasks).sum >= 4 + 3, m.jobs.mkString("\n"))
    assert(m.jobs.map(_.stages).sum >= 2)
    assert(m.jobs.forall(_.taskMs >= 0L) && m.gcMs >= 0L)

    assert(JobMeter(spark.sparkContext)(()).jobs.isEmpty)
    val next = JobMeter(spark.sparkContext)(spark.range(0, 10, 1, 2).count())
    assert(next.jobs.nonEmpty && next.jobs.map(_.id).min > m.jobs.map(_.id).max)
    assert(next.jobs.map(_.shuffleWrite).sum < m.jobs.map(_.shuffleWrite).sum)
  }
}
