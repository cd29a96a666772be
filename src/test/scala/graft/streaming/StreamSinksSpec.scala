package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** The foreachBatch JDBC sink must deliver each micro-batch exactly once
  * into the table — including when a batch is re-executed after a
  * failure, which Structured Streaming is allowed to do.
  */
class StreamSinksSpec extends SparkTestBase {

  import EventStreams.Event

  private def ts(minutes: Long): Timestamp = new Timestamp((1440 + minutes) * 60000L)

  test("micro-batches land in JDBC exactly once, even when re-executed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = s"jdbc:derby:${tempDir("sink-derby")}/db;create=true"
    val sink = StreamSinks.jdbcBatchSink(url, "events_out")

    val input = MemoryStream[Event]
    val q = input.toDS().toDF().writeStream.foreachBatch(sink).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(2), 1, "purchase", 3.0))
      q.processAllAvailable()
      val read = () => spark.read.jdbc(url, "events_out", new java.util.Properties())
      assert(read().count() == 3)

      // a failure-replay of batch 1: same batchId, same data — must converge
      val replay = spark.createDataset(Seq(Event(3, ts(2), 1, "purchase", 3.0))).toDF()
      sink(replay, 1L)
      assert(read().count() == 3, "re-executed batch must not duplicate rows")
      assert(read().select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("tar txn sink: micro-batches commit shards exactly once — replays " +
       "settle as no-ops, half-delivered batches invisible") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TarShardIO
    val table = tempDir("sink-tar") + "/t"
    def member(id: Long) = (id % 2, id,
      f"$id%08d.txt", s"doc-$id".getBytes("UTF-8"))
    val sink = StreamSinks.tarTxnSink(table, numFiles = 2, txnAppId = "cur")

    val input = MemoryStream[Long]
    val q = input.toDS()
      .map(member)
      .toDF("fkey", "ord", "name", "payload")
      .writeStream.foreachBatch(sink).start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      input.addData(4L, 5L)
      q.processAllAvailable()
      def published() = TarShardIO.readPublished(spark, table).collect()
        .map(e => e.name -> new String(e.payload, "UTF-8")).sorted.toSeq
      val after2 = published()
      assert(after2.map(_._2) == (1L to 5L).map(i => s"doc-$i"))

      // failure replay of batch 1 (same batchId, same data): the txn
      // settles committed — no new shards, catalog byte-stable
      val catBefore = TarShardIO.publishedShards(spark, table)
        .collect().map(_.toString).sorted.toSeq
      val replay = spark.createDataset(Seq(4L, 5L)).map(member)
        .toDF("fkey", "ord", "name", "payload")
      sink(replay, 1L)
      assert(published() == after2, "replayed micro-batch duplicated members")
      assert(TarShardIO.publishedShards(spark, table)
        .collect().map(_.toString).sorted.toSeq == catBefore)

      // a NEW batch id appends its own shard set
      sink(spark.createDataset(Seq(6L)).map(member)
        .toDF("fkey", "ord", "name", "payload"), 2L)
      assert(published().map(_._2) == (1L to 6L).map(i => s"doc-$i"))
    } finally q.stop()
  }

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
