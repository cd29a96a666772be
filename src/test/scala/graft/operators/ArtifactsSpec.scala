package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions.sum

class ArtifactsSpec extends SparkTestBase {
  import spark.implicits._

  private def writeIds(dir: String, ids: Long*): Unit =
    ids.toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")

  private def readIds(path: String): Seq[Long] =
    spark.read.parquet(path).as[Long].collect().sorted.toSeq

  test("a frame is built once per (session, dir, name); another dir or name builds again") {
    val a = tempDir("graft-art-a")
    val b = tempDir("graft-art-b")
    writeIds(a, 1, 2, 3)
    writeIds(b, 10)
    var builds = 0
    def total(dir: String, name: String): Long =
      Artifacts.frame(spark, dir, name) {
        builds += 1
        spark.read.parquet(s"$dir/t.parquet").agg(sum("id"))
      }.head().getLong(0)
    assert(total(a, "spec_sum") == 6 && total(a, "spec_sum") == 6)
    assert(builds == 1)
    assert(total(b, "spec_sum") == 10)
    assert(total(a, "spec_sum2") == 6)
    assert(builds == 3)
  }

  test("release deletes the root; the next call rebuilds from the data as it is then") {
    val sc = spark.sparkContext
    val d = tempDir("graft-art-d")
    writeIds(d, 1, 2, 3)
    var writes = 0
    def copy(): String = Artifacts.directory(spark, d, "spec_copy") { path =>
      writes += 1
      spark.read.parquet(s"$d/t.parquet").write.parquet(path)
    }
    def ids(): Seq[Long] =
      Artifacts.frame(spark, d, "spec_ids")(spark.read.parquet(s"$d/t.parquet"))
        .as[Long].collect().sorted.toSeq
    val p1 = copy()
    assert(p1.startsWith(Artifacts.root(sc) + "/"))
    assert(copy() == p1 && writes == 1)
    assert(ids() == Seq(1L, 2L, 3L))
    // built once: a change to the data does not reach a built artifact
    writeIds(d, 10, 20)
    assert(readIds(copy()) == Seq(1L, 2L, 3L) && ids() == Seq(1L, 2L, 3L))

    Artifacts.release(sc)
    assert(!new java.io.File(Artifacts.root(sc)).exists())
    val p2 = copy()
    assert(writes == 2)
    assert(readIds(p2) == Seq(10L, 20L))
    assert(ids() == Seq(10L, 20L))
  }
}
