package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.core.{SparkEnv, Tables}

/** Streaming entry point: consume the `events` table as a file-source
  * stream (the batch parquet dir doubles as a source; AvailableNow processes
  * everything and stops — the pattern for incremental backfills), run the
  * hourly-window aggregation, write parquet + checkpoint.
  *
  * Usage: runMain graft.streaming.StreamDemo <sfDir> <outDir>
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: StreamDemo <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val spark = SparkEnv.session("graft-stream-demo")
    val schema = Tables.read(spark, s"$sfDir/events.parquet").schema
    val events = Tables.nanosToTimestamp(
      spark.readStream
        .schema(schema)
        // the fixture is a single file, not a dir: stream the dir, filter to it
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
    )
    val q = EventStream
      .hourlyCounts(events)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = Tables.read(spark, s"$outDir/data").count()
    // Append mode emits a window only once the watermark passes its end, and
    // a finite AvailableNow run's final watermark stops 10 min behind the
    // last event — so the trailing hour window(s) intentionally remain in
    // state and are NOT in the output (they would flush on the next run of a
    // live stream). The batch q_events_window over the same fixture has the
    // complete set; don't diff the two without accounting for the tail.
    println(s"streamed hourly windows written: $n (trailing unclosed windows withheld by watermark)")
    spark.stop()
  }
}
