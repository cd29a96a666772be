package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming sinks for destinations without a native exactly-once
  * streaming writer. Structured Streaming's contract for such sinks is
  * `foreachBatch` + an IDEMPOTENT batch write: the engine may re-run a
  * micro-batch after a failure, so the write must converge when executed
  * twice with the same batchId.
  */
object StreamSinks {

  /** Exactly-once streaming ingestion into a [[graft.sources.SnapshotTable]]
    * (r16 VERDICT #3) — the loop-closer: continuous corpus ingestion
    * landing in the engine's own versioned, CDC-capable, time-travel
    * store. Each micro-batch is one idempotent
    * [[graft.sources.SnapshotTable.commitAppendTxn]] under the
    * batch-id-derived txn id `appId-b<batchId>`:
    *
    *  - a re-executed micro-batch probes its txn COMMITTED and settles as
    *    a no-op before staging a byte ([[graft.sources.SnapshotTable.settleTxn]]);
    *  - a crash between data write and pointer swap rolls FORWARD on
    *    replay (the prepared manifest is complete — only the pointer
    *    moves);
    *  - every batch is an atomic snapshot commit, so downstream
    *    [[graft.sources.SnapshotTable.followChanges]] consumers see each
    *    batch's rows exactly once, per committed version range — the
    *    stream feeds the table and the table feeds incremental consumers,
    *    with no at-least-once seam in between.
    *
    * **`txnAppId` is the Delta `txn.appId` discipline and MUST be unique
    * per (checkpoint location, table) pair** — the txn id is
    * `appId-b<batchId>`, and batch ids are only meaningful within one
    * checkpoint lifetime. Restarting a query against the same table with
    * a FRESH checkpoint but a reused appId restarts batch ids at 0, and
    * every batch whose id was already committed settles as a no-op: NEW
    * data silently dropped. Tie the appId to the checkpoint (e.g. a hash
    * of its path). A per-run random component would be WRONG the other
    * way — a crash-replayed batch from the SAME checkpoint would get a
    * new txn id and commit twice.
    *
    * Use as:
    * `df.writeStream.foreachBatch(StreamSinks.snapshotTxnSink(path, Seq("year"), appId)).option("checkpointLocation", ckpt).start()`
    */
  def snapshotTxnSink(tablePath: String, partitionCols: Seq[String],
                      txnAppId: String, filesPerPartition: Int = 1)
      : (DataFrame, Long) => Unit = (df, batchId) => {
    graft.sources.SnapshotTable.commitAppendTxn(df, tablePath,
      partitionCols, s"$txnAppId-b$batchId", filesPerPartition)
    ()
  }
}
