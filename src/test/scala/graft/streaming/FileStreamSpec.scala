package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** readStream over a parquet directory — the real file-source form of
  * the EventStreams pipelines (a Kafka/cloud-storage source at scale
  * differs only in the `format`). */
class FileStreamSpec extends SparkSpec {

  test("parquet file stream with per-file micro-batches matches the batch aggregation") {
    val dir = tempDir("graft-stream")
    // stage events as MULTIPLE time-ordered files (a log) so
    // maxFilesPerTrigger=1 exercises cross-micro-batch state
    // accumulation. FileStreamSource orders files by MODIFICATION time,
    // so each time-slice is written as its own sequential append
    // (oldest first) — one bulk range-partitioned write would give all
    // files the same mtime, arbitrary processing order, and legitimate
    // watermark drops of out-of-order slices.
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val cuts = Seq("2024-01-09", "2024-01-17", "2024-01-25")
    val slices = Seq(
      ev.filter(col("ts") < cuts(0)),
      ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
      ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
      ev.filter(col("ts") >= cuts(2)))
    slices.foreach { s =>
      s.coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5) // distinct mtimes
    }
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val query = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("filestream")
      .outputMode(OutputMode.Update()).start()
    try {
      query.processAllAvailable()
      // final state per (bucket, type) = max n across updates
      val streamed = spark.table("filestream")
        .groupBy(col("bucket"), col("event_type"))
        .agg(max(col("n")).as("n"))
        .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batch)
      assert(batch.values.sum === 1000L)
    } finally query.stop()
  }
}
