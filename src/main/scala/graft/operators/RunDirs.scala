package graft.operators

import org.apache.spark.sql.DataFrame

/** Run-scoped /tmp state for the lifecycle queries (r16 VERDICT #1).
  *
  * The snapshot/container lifecycle queries stage a fresh table or shard
  * set per invocation (their commits are versioned, so sharing a table
  * across reps would accrete history). Before round 17 the run dirs were
  * never reclaimed — ~2 GB of dead parquet accumulated per bench/verify
  * cycle, and the dirty page-cache writeback it caused was adjudicated as
  * the mechanism behind ~25 s of phantom bench time in BENCH_r16 (q_l6
  * recorded 12.8 s vs a 2.1–2.9 s isolated steady state).
  *
  * [[seal]] is the discipline: materialize the (aggregate-sized) result
  * with localCheckpoint, delete the run dir, return the pinned frame. The
  * delete only happens after a SUCCESSFUL materialization — a failing
  * query leaves its dir behind for debugging. localCheckpoint preserves
  * partition order, so a pre-applied orderBy survives the round trip.
  */
object RunDirs {
  /** Scratch base for RUN-SCOPED state (written, read, and deleted inside
    * one query): node-local RAM-backed fs when available — the same
    * preference `ephemeralStreamDir` adopted in r17 for stream staging —
    * else java.io.tmpdir. Run dirs never outlive the query, so the 100 TB
    * analogue is fast node-local scratch, not durable storage; keeping
    * them off the root fs also stops parquet-staging writeback from
    * contaminating later queries (the r16 VERDICT #1 mechanism).
    * Session-lifetime artifacts live in [[Artifacts]]' per-context root
    * instead. Override with -Dgraft.scratch.dir. */
  def base: String = {
    val cfg = System.getProperty("graft.scratch.dir")
    if (cfg != null) cfg
    else {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir", "/tmp")
    }
  }

  /** A fresh run-scoped directory under base/prefix. */
  def fresh(prefix: String): String =
    s"$base/$prefix/run-${System.nanoTime()}"

  /** Materialize `df` eagerly, then delete `runDir` (post-success only). */
  def seal(df: DataFrame, runDir: String): DataFrame = {
    val out = df.localCheckpoint()
    delete(new java.io.File(runDir))
    out
  }

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}
