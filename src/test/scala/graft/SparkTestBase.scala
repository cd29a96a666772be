package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, BeforeAndAfterAll, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite run, built by
  * [[GraftSession.build]] like every main; a small core and shuffle-partition
  * count keeps local tests fast. Each suite runs in one [[QueryScope]] named
  * after it, so what its tests cached or checkpointed is released when it
  * ends and the next suite starts from the same empty block store.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  def sfDir(sf: String): String = s"/root/testdata/sf$sf"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh directory under java.io.tmpdir, deleted when the suite ends. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(graft.operators.RunDirs.delete))
    finally super.afterAll()

  override def run(testName: Option[String], args: Args): Status =
    QueryScope(spark, suiteName)(super.run(testName, args))
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.build(cpus = 4)
}
