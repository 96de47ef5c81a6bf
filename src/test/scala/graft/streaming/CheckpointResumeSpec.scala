package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Exactly-once file pipeline: a checkpointed readStream→writeStream
  * restarted mid-input resumes from the checkpoint and neither drops
  * nor duplicates rows — the durability contract a production ingest
  * job relies on. */
class CheckpointResumeSpec extends SparkSpec {

  test("checkpointed parquet-to-parquet stream resumes without loss or duplication") {
    val base = tempDir("graft-ckpt")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val schema = ev.schema

    // stage half the input, run the stream to completion, stop
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(in)
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterHalf = spark.read.parquet(out).count()

    // stage the second half, RESTART from the same checkpoint
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(in)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val result = spark.read.parquet(out)
    assert(afterHalf === 500L)
    assert(result.count() === 1000L) // no loss
    assert(result.select("event_id").distinct().count() === 1000L) // no duplication
  }
}
