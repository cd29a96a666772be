package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** File-source streaming demo: replays the events table as a bounded stream
  * (one parquet file per micro-batch), sessionizes it with
  * EventStreams.sessionize, and prints the resulting session stats.
  * Usage: StreamingDemo <sfDir> [gapSeconds]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: StreamingDemo <sfDir> [gapSeconds]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val gap = if (args.length > 1) args(1).toLong else 1800L
    val spark = graft.GraftSession.build()
    import spark.implicits._

    // Stage the events file into an arrival directory — the file streaming
    // source consumes a directory, discovering files as micro-batches.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      srcDir.resolve("events-000.parquet"))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$sfDir/events.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]

    val q = EventStreams.sessionize(stream, gap)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions")
    val n = sessions.count()
    val stats = sessions.agg(
      countDistinct("user_id").as("users"),
      avg("n_events").as("avg_events_per_session")).head()
    println(s"""{"closed_sessions":$n,"users":${stats.getLong(0)},"avg_events":${stats.getDouble(1)}}""")
    spark.stop()
  }
}
