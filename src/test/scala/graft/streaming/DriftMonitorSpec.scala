package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec

/** Streaming drift monitor (q85's twin): per-micro-batch milli-share
  * L2 against a static reference histogram. */
class DriftMonitorSpec extends SparkSpec {

  import EventStreams._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("matching batch reports zero drift; a collapsed batch reports the exact L2") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // reference: uniform over 10 buckets on [0, 9] → pi = 100000 ppm each
    val ref = (0L to 9L)
      .map(b => ("click", 0.0, 9.0, b, 100000L))
      .toDF("event_type", "lo", "hi", "bucket", "pi")
    val store = new DriftStore
    val input = MemoryStream[Event]
    val query = startDriftMonitor(input.toDF(), ref, store,
      tempDir("drift_ckpt"))
    try {
      // batch 0: one value per bucket — the reference distribution
      input.addData((0 to 9).map(i => Event(i.toLong, ts(i), 1, "click", i.toDouble)))
      query.processAllAvailable()
      // batch 1: everything lands in the top bucket
      input.addData((10 to 19).map(i => Event(i.toLong, ts(i), 1, "click", 9.0)))
      query.processAllAvailable()
    } finally query.stop()
    val snap = store.snapshot
    assert(snap((0L, "click")) === ((0L, 0L, 10L)),
      "reference-shaped batch must show zero drift and zero PSI")
    // nine buckets drop 100000 ppm each, bucket 9 gains 900000 ppm
    val expected = 9L * 100000L * 100000L + 900000L * 900000L
    // PSI class weights: emptied buckets hit the r < 1/4 class (-2079),
    // the gaining bucket the r ≥ 4 class (+2079):
    // 9 · 100000·2079 + 900000·2079 = 3742200000
    val expectedPsi = 9L * 100000L * 2079L + 900000L * 2079L
    assert(snap((1L, "click")) === ((expected, expectedPsi, 10L)))
  }

  test("a type absent from the reference is surfaced at maximum drift, not dropped") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ref = (0L to 9L)
      .map(b => ("click", 0.0, 9.0, b, 100000L))
      .toDF("event_type", "lo", "hi", "bucket", "pi")
    val store = new DriftStore
    val input = MemoryStream[Event]
    val query = startDriftMonitor(input.toDF(), ref, store,
      tempDir("drift_ckpt2"))
    try {
      // a brand-new event type the reference has never seen — the
      // loudest drift signal; the old inner join made it invisible
      input.addData((0 to 4).map(i => Event(i.toLong, ts(i), 1, "scroll", i.toDouble)))
      query.processAllAvailable()
    } finally query.stop()
    val snap = store.snapshot
    // all 10^6 milli-share sits in buckets where pi = 0 → drift 10^12;
    // PSI: one bucket with a−b = 10^6 in the r ≥ 4 class → 10^6·2079
    assert(snap((0L, "scroll")) === ((1000000L * 1000000L, 1000000L * 2079L, 5L)))
    // and the DISAPPEARED reference type (zero click events this batch)
    // must be reported at maximal drift with n = 0, not dropped:
    // L2 = 10 buckets × 100000², PSI = 10 × 100000·2079 (r < 1/4 class)
    assert(snap((0L, "click")) ===
      ((10L * 100000L * 100000L, 10L * 100000L * 2079L, 0L)))
  }
}
