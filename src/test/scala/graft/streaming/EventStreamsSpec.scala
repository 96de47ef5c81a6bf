package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {

  import EventStreams._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def runBatches[T](
      name: String,
      build: MemoryStream[Event] => org.apache.spark.sql.DataFrame,
      outputMode: OutputMode,
      batches: Seq[Seq[Event]]): Array[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = build(input)
      .writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      spark.table(name).collect()
    } finally query.stop()
  }

  test("tumbling windowed aggregation accumulates across micro-batches") {
    val batches = Seq(
      Seq(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 5.0)),
      Seq(Event(4, ts(30), 2, "click", 3.0)))
    val rows = runBatches("tumbling",
      m => tumblingCounts(m.toDF()), OutputMode.Update(), batches)
    // latest update for (hour 0, click) must show n=3, sum=6.0
    val clickHour0 = rows.filter(r => r.getAs[String]("event_type") == "click"
      && r.getAs[Timestamp]("bucket") == ts(0))
    assert(clickHour0.map(_.getAs[Long]("n")).max === 3)
    assert(clickHour0.map(_.getAs[Double]("sum_value")).max === 6.0)
  }

  test("streaming dedup keeps first event per (user, type)") {
    val batches = Seq(
      Seq(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "click", 2.0)),
      Seq(Event(3, ts(3), 1, "click", 3.0), Event(4, ts(4), 2, "click", 4.0)))
    val rows = runBatches("dedup",
      m => dedupFirstEvents(m.toDF()), OutputMode.Append(), batches)
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 4L))
  }

  test("dedup state expires past the watermark: a far-later duplicate re-emits") {
    // the documented dropDuplicatesWithinWatermark trade-off: with a
    // 1-hour watermark, a duplicate key arriving days later (after its
    // first-seen state was evicted) is treated as new — the price of
    // BOUNDED state, vs plain dropDuplicates whose state never evicts
    val batches = Seq(
      Seq(Event(1, ts(1), 1, "click", 1.0)),
      // advance watermark far past event 1's time, then repeat the key
      Seq(Event(2, ts(24 * 60 * 7), 9, "view", 0.0)),
      Seq(Event(3, ts(24 * 60 * 7 + 1), 1, "click", 3.0)))
    val rows = runBatches("dedup_evict",
      m => dedupFirstEvents(m.toDF(), watermark = "1 hour"), OutputMode.Append(), batches)
    // event 3 re-emits despite (user 1, click) being seen in batch 1
    assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("session windows merge events within the 30-minute gap") {
    val batches = Seq(Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(20), 1, "click", 1.0), // same session (gap 20m)
      Event(3, ts(120), 1, "click", 1.0))) // new session
    val rows = runBatches("sessions",
      m => sessionCounts(m.toDF()), OutputMode.Complete(), batches)
    val sessions = rows.map(r =>
      (r.getAs[Timestamp]("session_start"), r.getAs[Long]("n_events"))).toMap
    assert(sessions(ts(0)) === 2)
    assert(sessions(ts(120)) === 1)
  }

  test("stream-stream interval join pairs errors with preceding clicks per user") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val query = EventStreams.clickErrorJoin(clicks.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(Seq(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 1.0),
        Event(3, ts(0), 2, "click", 1.0)))
      errors.addData(Seq(
        Event(10, ts(8), 1, "error", 1.0),   // joins clicks 1 (8m) and 2 (3m)
        Event(11, ts(30), 2, "error", 1.0))) // click 3 is 30m earlier -> no join
      query.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
      val pairs = rows.map(r => (r.getAs[Long]("error_id"), r.getAs[Long]("click_id"))).toSet
      assert(pairs === Set((10L, 1L), (10L, 2L)))
    } finally query.stop()
  }

  test("stream-static enrichment joins the broadcast dim and rolls up by category") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val typeDim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue")).toDF("event_type", "category")
    val batches = Seq(
      Seq(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(10), 2, "view", 2.0)),
      Seq(Event(3, ts(15), 1, "purchase", 9.0), Event(4, ts(20), 3, "error", 0.5)))
    val rows = runBatches("enrich",
      m => enrichedCategoryCounts(m.toDF(), typeDim), OutputMode.Update(), batches)
    def latest(cat: String) =
      rows.filter(_.getAs[String]("category") == cat).maxBy(_.getAs[Long]("n"))
    assert(latest("engagement").getAs[Long]("n") === 2)
    assert(latest("engagement").getAs[Double]("sum_value") === 3.0)
    assert(latest("revenue").getAs[Double]("sum_value") === 9.0)
    // dim miss falls back to the 'other' category, not a dropped row
    assert(latest("other").getAs[Long]("n") === 1)
  }

  test("foreachBatch upsert keeps latest per key, ignores stale rows, dedups replayed batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val store = new UpsertStore
    val ckpt = tempDir("upsert_ckpt")
    val query = startUpsert(input.toDF(), store, ckpt)
    try {
      input.addData(Seq(
        Event(1, ts(10), 1, "click", 1.0), Event(2, ts(20), 1, "click", 2.0)))
      query.processAllAvailable()
      assert(store.snapshot(1L -> "click")._2 === 2.0, "latest in batch wins")
      input.addData(Seq(
        Event(3, ts(5), 1, "click", 0.5), // stale: older than stored ts(20)
        Event(4, ts(30), 2, "view", 9.0))) // new key
      query.processAllAvailable()
      val snap = store.snapshot
      assert(snap(1L -> "click")._2 === 2.0, "stale cross-batch row must not override")
      assert(snap(2L -> "view")._2 === 9.0)
      // simulate an at-least-once replay of batch 0: idempotence by batchId
      store.merge(0L, Seq((1L -> "click", (ts(10), 111.0))))
      assert(store.snapshot(1L -> "click")._2 === 2.0, "replayed batchId must be a no-op")
    } finally query.stop()
  }

  test("accumulateUntil flags convergence once a group crosses the threshold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = accumulateUntil(spark, input.toDS(), minPerGroup = 3)
      .writeStream.format("memory").queryName("acc").outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 2, "click", 1.0)))
      query.processAllAvailable()
      val after1 = spark.table("acc").collect()
      assert(after1.exists(r => r.getAs[String]("event_type") == "click"
        && r.getAs[Long]("n") == 2 && !r.getAs[Boolean]("converged")))
      input.addData(Seq(Event(3, ts(3), 3, "click", 1.0)))
      query.processAllAvailable()
      val after2 = spark.table("acc").collect()
      assert(after2.exists(r => r.getAs[String]("event_type") == "click"
        && r.getAs[Long]("n") == 3 && r.getAs[Boolean]("converged")))
    } finally query.stop()
  }

  test("streaming transitions match batch lead() semantics for an in-order source") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = transitions(spark, input.toDS())
      .writeStream.format("memory").queryName("trans").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 click→view (in-batch, out of arrival order to
      // exercise the in-batch sort); user 2 first event only
      input.addData(Seq(
        Event(2, ts(5), 1, "view", 1.0), Event(1, ts(1), 1, "click", 1.0),
        Event(3, ts(2), 2, "error", 1.0)))
      query.processAllAvailable()
      // batch 2: state carries across micro-batches — user 1 continues
      // from "view", user 2 from "error"
      input.addData(Seq(
        Event(4, ts(9), 1, "purchase", 1.0), Event(5, ts(8), 2, "click", 1.0)))
      query.processAllAvailable()
      val got = spark.table("trans").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("from_type"), r.getAs[String]("to_type")))
        .toSet
      assert(got === Set(
        (1L, "click", "view"), (1L, "view", "purchase"), (2L, "error", "click")))
    } finally query.stop()
  }
}
