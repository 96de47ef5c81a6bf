package graft.operators

import graft.{QueryCatalog, SparkSpec}
import org.apache.spark.sql.functions._

/** Branch coverage the driver testdata cannot provide: registered
  * queries run against purpose-built fixture parquet dirs (same table
  * names/schemas) that exercise the branches the synthetic corpus never
  * hits — q70's exact-dup and repetitive stages (the corpus has no
  * exact duplicates and almost no repetitive docs) and q62's negative
  * cohort weeks (the corpus starts exactly at the 2024-01-01 epoch, so
  * the floor-vs-truncate divergence the round-4 fix addressed is
  * otherwise invisible).
  */
class FixtureBranchSpec extends SparkSpec {

  import spark.implicits._

  private def q(name: String) = QueryCatalog.all.find(_.name == name).get.fn

  test("q70 funnel attributes every stage, first-rejecting-filter order") {
    val dir = tempDir("funnel_fix")
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      // doc 0/1: exact duplicates (long enough to pass short+repetitive)
      (0L, long, "en", "web", 1L),
      (1L, long, "en", "web", 1L),
      // doc 2: repetitive — 40 tokens, one token 20 times (frac 0.5)
      (2L, (Seq.fill(20)("spam") ++ (1 to 20).map(i => s"u$i")).mkString(" "), "en", "web", 1L),
      // doc 3: short
      (3L, "tiny doc", "en", "web", 1L),
      // doc 4: kept
      (4L, (1 to 50).map(i => s"w$i").mkString(" "), "en", "web", 1L),
      // doc 5: short AND repetitive — must attribute to 'short' (first filter)
      (5L, "x x x x x", "en", "web", 1L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = q("q70_curation_funnel")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("exact_dup" -> 1L, "repetitive" -> 1L, "short" -> 2L, "kept" -> 2L))
  }

  test("q62 floors negative cohort weeks identically to the oracle semantics") {
    val dir = tempDir("cohort_fix")
    def nanos(date: String): Long =
      java.sql.Timestamp.valueOf(s"$date 12:00:00").getTime * 1000000L
    // user 1 first active 3 days BEFORE the 2024-01-01 epoch: day diff
    // -3 → floor(-3/7) = -1 (cast-truncate would give 0)
    val events = Seq(
      (1L, nanos("2023-12-29"), 1L, "click", 1.0, """{"k": 1}"""),
      (2L, nanos("2024-01-05"), 1L, "view", 1.0, """{"k": 2}"""),
      (3L, nanos("2024-01-08"), 2L, "click", 1.0, """{"k": 3}"""),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = q("q62_cohort_retention")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1: cohort floor(-3/7) = -1; offsets 0 and floor(7/7) = 1
    // user 2: cohort floor(7/7) = 1; offset 0
    assert(rows === Set((-1L, 0L, 1L), (-1L, 1L, 1L), (1L, 0L, 1L)))
  }
}
