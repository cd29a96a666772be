package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Exactly-once incremental table mirroring (round 17):
  * [[SnapshotTable.mirrorChanges]] replicates a source lifecycle —
  * overwrite, merge (update+delete+insert), MoR delete — one version at a
  * time into a destination table, idempotently under replays and crash
  * points. */
class MirrorSpec extends SparkTestBase {
  import spark.implicits._
  import SnapshotTable._

  private def tmp(): String = tempDir("graft-mirror")

  private def state(t: String): Seq[(Long, Double)] =
    readSnapshot(spark, t).select("id", "amount").as[(Long, Double)]
      .collect().sorted.toSeq

  test("mirror tracks overwrite -> merge -> MoR delete, version by version") {
    val src = tmp(); val dst = tmp() + "/d"; val wm = tmp() + "/wm"
    val base = (1 to 40).map(i => (i.toLong, 2000 + i % 2, i * 1.5))
      .toDF("id", "year", "amount")
    commitOverwrite(base, src, Seq("year"))
    assert(mirrorChanges(spark, src, dst, wm, Seq("id"), Seq("year")) == 1)
    assert(state(dst) == state(src))

    // v2: merge — %5 updates, %10 deletes, 2 inserts
    val updates = base.filter(col("id") % 5 === 0)
      .withColumn("amount", col("amount") * 2)
      .withColumn("_deleted", col("id") % 10 === 0)
    val inserts = Seq((101L, 2000, 7.0), (102L, 2001, 8.0))
      .toDF("id", "year", "amount").withColumn("_deleted", lit(false))
    mergeUpsert(spark, src, updates.unionByName(inserts),
      keyCols = Seq("id"), partitionCols = Seq("year"),
      deleteCol = Some("_deleted"))
    // v3: MoR key delete
    commitDeleteByKeys(src, Seq(3L, 7L).toDF("id"), Seq("id"))
    assert(mirrorChanges(spark, src, dst, wm, Seq("id"), Seq("year")) == 2)
    assert(state(dst) == state(src))
    // caught up: no-op
    assert(mirrorChanges(spark, src, dst, wm, Seq("id"), Seq("year")) == 0)
  }

  test("replays and crash points are idempotent (txn-keyed commits)") {
    val src = tmp(); val dst = tmp() + "/d"; val wm = tmp() + "/wm"
    val base = (1 to 20).map(i => (i.toLong, 2000, i * 1.0))
      .toDF("id", "year", "amount")
    commitOverwrite(base, src, Seq("year"))
    mergeUpsert(spark, src,
      base.filter(col("id") % 4 === 0).withColumn("amount", col("amount") + 100)
        .withColumn("_deleted", col("id") === 8L),
      keyCols = Seq("id"), partitionCols = Seq("year"),
      deleteCol = Some("_deleted"))
    mirrorChanges(spark, src, dst, wm, Seq("id"), Seq("year"))
    val want = state(src)
    val dstV = currentVersion(dst).get
    // CRASH SIMULATION: wipe the watermark — every version redelivers;
    // all commits must settle as no-ops (no new dst version, same rows)
    Files.delete(java.nio.file.Paths.get(wm))
    assert(mirrorChanges(spark, src, dst, wm, Seq("id"), Seq("year")) == 2)
    assert(currentVersion(dst).contains(dstV), "replay minted new versions")
    assert(state(dst) == want)
  }

  test("update pairs land insert-survives; mirrored table is itself mirrorable") {
    val src = tmp(); val dst = tmp() + "/d"; val dst2 = tmp() + "/d2"
    val wm = tmp() + "/wm"; val wm2 = tmp() + "/wm2"
    commitOverwrite(Seq((1L, 2000, 1.0), (2L, 2000, 2.0))
      .toDF("id", "year", "amount"), src, Seq("year"))
    mergeUpsert(spark, src,
      Seq((1L, 2000, 99.0)).toDF("id", "year", "amount")
        .withColumn("_deleted", lit(false)),
      keyCols = Seq("id"), partitionCols = Seq("year"),
      deleteCol = Some("_deleted"))
    mirrorChanges(spark, src, dst, wm, Seq("id"), Seq("year"))
    assert(state(dst) == Seq((1L, 99.0), (2L, 2.0)))
    // chain: dst -> dst2 (the mirror's own commits are a valid source)
    mirrorChanges(spark, dst, dst2, wm2, Seq("id"), Seq("year"),
      txnAppId = "m2")
    assert(state(dst2) == Seq((1L, 99.0), (2L, 2.0)))
  }
}
