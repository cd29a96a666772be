package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Per-file manifest bloom filters (round 17): equality probes skip files
  * on UNCLUSTERED layouts where min/max stats can't (every file's key
  * range overlaps), with correctness never depending on the filter —
  * false positives cost reads, absent blooms keep the file. */
class BloomPruneSpec extends SparkTestBase {
  import spark.implicits._
  import SnapshotTable._

  test("point lookups skip most files; kept set always contains the match") {
    val t = tempDir("graft-bloom")
    // ids deliberately SCATTERED across files: stats ranges all overlap,
    // only the blooms can prune an equality probe
    val df = (1 to 4000).map(i => (i.toLong, 2000 + i % 4, s"p-$i"))
      .toDF("id", "year", "payload")
    commitOverwrite(df, t, Seq("year"), filesPerPartition = 4,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val entries = manifest(t).filterNot(_.isDelete)
    // file count = distinct (partition, salt-task) cells the small corpus
    // actually lands in — at least the 4 partition dirs, up to 16
    assert(entries.size >= 8, s"expected a multi-file layout, got ${entries.size}")
    assert(entries.forall(_.blooms.contains("id")))

    val probes = Seq(17L, 931L, 2044L, 3999L)
    probes.foreach { k =>
      val pred = bloomPrune("id", k)
      val keptFiles = entries.count(e => pred(e.blooms))
      // the id lives in exactly one file; ~1% FPP across the others
      // means the kept set is tiny — require real pruning with slack
      assert(keptFiles >= 1 && keptFiles <= entries.size / 2,
        s"probe $k kept $keptFiles of ${entries.size} files")
      val rows = readSnapshot(spark, t, bloomPruning = pred)
        .filter(col("id") === k).collect()
      assert(rows.length == 1 && rows.head.getAs[String]("payload") == s"p-$k")
    }
    // a probe for an ABSENT id: zero rows, typically zero files planned
    val absent = bloomPrune("id", 999999L)
    assert(readSnapshot(spark, t, bloomPruning = absent)
      .filter(col("id") === 999999L).count() == 0L)
  }

  test("files without recorded blooms are always kept (may-contain)") {
    val t = tempDir("graft-bloom2")
    commitOverwrite(Seq((1L, 2000, "a")).toDF("id", "year", "payload"),
      t, Seq("year"), bloomCols = Seq("id"))
    // second commit WITHOUT blooms: its file must survive any probe
    commitAppend(Seq((2L, 2000, "b")).toDF("id", "year", "payload"),
      t, Seq("year"))
    val rows = readSnapshot(spark, t, bloomPruning = bloomPrune("id", 2L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(rows.contains(2L), "bloom-less file must never be pruned")
  }

  test("string columns probe with string values (type-sensitive hash)") {
    val t = tempDir("graft-bloom3")
    val df = (1 to 1000).map(i => (i.toLong, 2000, s"user-${i % 100}"))
      .toDF("id", "year", "who")
    commitOverwrite(df, t, Seq("year"), filesPerPartition = 8,
      bloomCols = Seq("who"))
    val pred = bloomPrune("who", "user-37")
    val rows = readSnapshot(spark, t, bloomPruning = pred)
      .filter(col("who") === "user-37").count()
    assert(rows == 10L)
  }
}
