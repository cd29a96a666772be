package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The battery's built-once artifacts (pair sets, indexes, base tables),
  * scoped to one SparkContext. An artifact is keyed by the context, the
  * dataset dir and its name; it is built on the first call and reused by
  * every later call of the same session. Directories live under one root
  * per context in java.io.tmpdir, and the root is deleted when the context
  * stops, so no artifact outlives the session that built it: a new session
  * always derives its artifacts from the data and code it runs with.
  */
object Artifacts {
  private final case class Key(sc: SparkContext, dir: String, name: String)

  // one map and one lock: builds are serialized, which also stops two
  // queries of a session from building the same artifact twice
  private val built = scala.collection.mutable.HashMap.empty[Key, AnyRef]
  private var seq = 0L

  /** `build`, localCheckpointed, once per (context, dir, name). */
  def frame(s: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame =
    once(s.sparkContext, dir, name)(build.localCheckpoint())

  /** The ids of the checkpointed RDDs behind `sc`'s [[frame]]s: the
    * blocks [[graft.QueryScope]] keeps when a query ends. */
  private[graft] def rddIds(sc: SparkContext): Set[Int] = built.synchronized {
    built.iterator.collect { case (k, f: Dataset[_]) if k.sc eq sc =>
      f.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    }.flatten.toSet
  }

  /** A directory under the context's root, written once per (context,
    * dir, name) by `write`; returns its path. The leaf name is `name`
    * plus a sequence number, so it is also a valid table name when
    * `name` is. */
  def directory(s: SparkSession, dir: String, name: String)
               (write: String => Unit): String =
    once(s.sparkContext, dir, name) {
      seq += 1
      val path = s"${root(s.sparkContext)}/${name}_$seq"
      write(path)
      path
    }

  /** Forget every artifact of `sc` and delete its root. Runs when `sc`
    * stops; the next call after a release rebuilds. */
  private[graft] def release(sc: SparkContext): Unit = built.synchronized {
    built.filterInPlace((k, _) => k.sc ne sc)
    RunDirs.delete(new java.io.File(root(sc)))
  }

  private[graft] def root(sc: SparkContext): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-artifacts-" +
      s"${ProcessHandle.current.pid}-${sc.applicationId}"

  private def once[A <: AnyRef](sc: SparkContext, dir: String, name: String)
                               (build: => A): A = built.synchronized {
    val key = Key(sc, dir, name)
    built.get(key) match {
      case Some(a) => a.asInstanceOf[A]
      case None =>
        if (!built.keys.exists(_.sc eq sc))
          sc.addSparkListener(new SparkListener {
            override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
              release(sc)
          })
        val a = build
        built(key) = a
        a
    }
  }
}
