package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.StreamingEval

/** Streaming usage trace: replay the events testdata as a file stream and
  * run the windowed aggregation + frozen-stats scoring end-to-end. Run:
  * {{{ sbt "runMain graft.examples.ExampleStreaming" }}}
  */
object ExampleStreaming {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-example-streaming")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val batch = graft.io.Tables.table(spark, sfDir, "events")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

    // Stream the same data through a file source to exercise the real
    // streaming path (schema must be declared for readStream).
    val stage = graft.io.TempDirs.create("events_stream").toString
    batch.write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(batch.schema).parquet(stage)

    val windowed = StreamingEval.windowedEventStats(stream, windowLen = "6 hours")
    val q = windowed.writeStream.format("memory").queryName("win").outputMode("complete").start()
    q.processAllAvailable()
    println("=== windowed event stats (first 10) ===")
    spark.table("win").orderBy("window", "event_type").show(10, truncate = false)
    q.stop()

    spark.stop()
  }
}
