package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q160 watermark-lateness audit: the Structured Streaming drop rule
  * (late iff event time > delay behind the running max) replayed on a
  * planted out-of-order stream with hand-computed drops per rung, and
  * the in-order property pinned on the driver corpus. */
class WatermarkLatenessSpec extends SparkSpec {

  import spark.implicits._

  private def run(dir: String) =
    graft.QueryCatalog.all.find(_.name == "q160_watermark_lateness").get
      .fn(spark, dir)

  test("planted out-of-order stream: exact drops at every rung") {
    // arrival order = event_id; lateness vs the running max event time:
    // e3 is 120 s late (dropped only at the 60 s rung), e5 is 4000 s
    // late (dropped at every rung incl. 3600)
    val dir = tempDir("lateness")
    Seq(
      (1L, 1000L), (2L, 2000L), (3L, 1880L),
      (4L, 2100L), (5L, -1900L), (6L, 2200L))
      .toDF("event_id", "sec")
      .select(col("event_id"), timestamp_micros(col("sec") * 1000000L).as("ts"),
        lit(7L).as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = run(dir).collect().map(r => r.getAs[Long]("delay_sec") -> r).toMap
    assert(rows.keySet === Set(60L, 300L, 900L, 3600L))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_events") === 6L)
      assert(r.getAs[Long]("out_of_order_events") === 2L)
      assert(r.getAs[Long]("max_late_sec") === 4000L)
    }
    assert(rows(60L).getAs[Long]("dropped_events") === 2L)
    assert(rows(60L).getAs[Long]("dropped_ppm") === 333333L)
    Seq(300L, 900L, 3600L).foreach { d =>
      assert(rows(d).getAs[Long]("dropped_events") === 1L, s"delay=$d")
      assert(rows(d).getAs[Long]("dropped_ppm") === 166666L, s"delay=$d")
    }
  }

  test("driver corpus arrives in event-time order: every rung reports zero drops") {
    val rows = run("/root/testdata/sf0.001").collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("out_of_order_events") === 0L)
      assert(r.getAs[Long]("dropped_events") === 0L)
    }
  }
}
