package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The foreachBatch snapshot sink must deliver each micro-batch exactly
  * once into the table — including when a batch is re-executed after a
  * failure, which Structured Streaming is allowed to do.
  */
class StreamSinksSpec extends SparkTestBase {

  test("snapshot txn sink: each micro-batch is one atomic versioned " +
       "commit — replays settle as no-ops, refs and followChanges see " +
       "each batch exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotTable
    val root = tempDir("sink-snap")
    val table = s"$root/t"
    val ckpt = s"$root/ckpt"
    def rows(ids: Long*) = ids.map(id => (id, 2000 + (id % 2).toInt, id * 1.5))
    val sink = StreamSinks.snapshotTxnSink(table, Seq("year"), txnAppId = "ing")

    val input = MemoryStream[(Long, Int, Double)]
    val q = input.toDS().toDF("id", "year", "amount")
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData(rows(1L, 2L, 3L): _*)
      q.processAllAvailable()
      input.addData(rows(4L, 5L): _*)
      q.processAllAvailable()
      // one snapshot version per micro-batch, all rows exactly once
      assert(SnapshotTable.currentVersion(table).contains(2L))
      def ids(v: Option[Long] = None) =
        SnapshotTable.readSnapshot(spark, table, v)
          .select("id").as[Long].collect().sorted.toSeq
      assert(ids() == (1L to 5L))
      assert(ids(Some(1L)) == (1L to 3L), "batch 0 must be its own snapshot")

      // failure replay of batch 1 (same batchId, same data): txn settles
      // committed — no new version, no duplicate rows, no new data files
      val filesBefore = SnapshotTable.manifest(table).map(_.relPath).sorted
      sink(rows(4L, 5L).toDF("id", "year", "amount"), 1L)
      assert(SnapshotTable.currentVersion(table).contains(2L),
        "replayed micro-batch committed a new version")
      assert(ids() == (1L to 5L), "replayed micro-batch duplicated rows")
      assert(SnapshotTable.manifest(table).map(_.relPath).sorted == filesBefore)

      // the ingested table feeds incremental consumers exactly once per
      // committed range: initial load = all rows, then a new batch's rows
      val wm = s"$root/wm"
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Long])]
      def follow(): Unit =
        SnapshotTable.followChanges(spark, table, wm) { (df, vf, vt) =>
          seen += ((vf, vt, df.select("id").as[Long].collect().sorted.toSeq))
        }
      follow()
      assert(seen.toSeq == Seq((0L, 2L, (1L to 5L))))
      input.addData(rows(6L): _*)
      q.processAllAvailable()
      follow()
      assert(seen(1) == ((2L, 3L, Seq(6L))), "follow must see only batch 2's rows")
      follow() // caught up: no-op
      assert(seen.size == 2)
    } finally q.stop()
  }
}
