package graft

import org.apache.spark.sql.SparkSession

/** One query's lifetime on a SparkContext. [[apply]] runs `body` with the
  * job group set to `name`; Spark copies it into the threads that run
  * broadcast and adaptive-stage jobs, so every job of the query carries it
  * (streaming micro-batches keep their run's group). On exit, after success
  * or a throw, it clears the whole session cache and unpersists every RDD
  * that `body` persisted or local-checkpointed, except the frames
  * [[operators.Artifacts]] owns: blocks are freed when the query ends, not
  * at the next driver GC. A checkpointed frame read after its scope ended
  * fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; it never reads wrong data.
  *
  * The scope diffs the context's persistent RDDs, so it assumes one query
  * at a time per context: its exit also releases what a concurrent query
  * on the same context holds.
  */
object QueryScope {

  private val groupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  def apply[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outer = groupKeys.map(sc.getLocalProperty)
    sc.setJobGroup(name, name)
    try body
    finally {
      groupKeys.zip(outer).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      spark.catalog.clearCache()
      val kept = before ++ operators.Artifacts.rddIds(sc)
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!kept(id)) rdd.unpersist(blocking = true)
      }
    }
  }
}
