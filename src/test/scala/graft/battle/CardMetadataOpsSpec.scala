package graft.battle

import graft.SparkSpec

class CardMetadataOpsSpec extends SparkSpec {

  test("backfill: fetched elixir wins on presence (even null), appends new cards") {
    import spark.implicits._
    val existing = Seq(
      (1L, "Knight", 14, Some(3), false, false, false),
      (2L, "Mystery", 14, None, true, false, false),
      (4L, "Corrected", 14, Some(6), false, true, false),
      (5L, "Nulled", 14, Some(4), false, false, true),
    ).toDF("id", "name", "maxLevel", "elixir", "is_big_tank", "is_bait_piece", "is_bridge_spam_piece")
    val fetched = Seq(
      (2L, "Mystery", 14, Some(5)),
      (3L, "Newcomer", 14, Some(2)),
      (4L, "Corrected", 14, Some(7)),
      (5L, "Nulled", 14, None),
    ).toDF("id", "name", "maxLevel", "elixir")
    val out = CardMetadataOps.backfill(existing, fetched).collect()
      .map(r => r.getAs[String]("name") ->
        (Option(r.get(r.fieldIndex("elixir"))), r.getAs[Boolean]("is_big_tank"))).toMap
    assert(out("Knight") === (Some(3), false)) // not fetched: existing kept
    assert(out("Mystery") === (Some(5), true)) // elixir backfilled, flag kept
    assert(out("Newcomer") === (Some(2), false)) // appended with default flags
    // update_cardsdata.py:46-47 — fetched value replaces existing on presence:
    assert(out("Corrected") === (Some(7), false)) // stale cost corrected
    assert(out("Nulled") === (None, false)) // fetched null still overwrites
  }
}
