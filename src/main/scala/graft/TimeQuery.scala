package graft

/** Local profiling harness: runs one named SparkEntry query N times against
  * a dataset dir and prints per-iteration wall times, separating steady-state
  * cost from first-run init (codegen, footer reads, broadcast warm).
  * Usage: runMain graft.TimeQuery <sfDir> <queryName> [iters]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val (sfDir, name, iters) = (args(0), args(1),
      if (args.length > 2) args(2).toInt else 5)
    val spark = GraftSession.build()
    val fn = SparkEntry.queries(name)
    val times = (1 to iters).map { i =>
      val t0 = System.nanoTime()
      Force.rows(fn(spark, sfDir))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name iter $i: $s%.3f s")
      s
    }
    println(f"[time] $name min=${times.min}%.3f median=${times.sorted.apply(iters / 2)}%.3f first=${times.head}%.3f")
    spark.stop()
  }
}
