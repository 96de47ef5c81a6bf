package graft.battle

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WorkflowsSpec extends SparkSpec {

  test("UserWorkflow.run produces every Phase 1 table from raw JSON battles") {
    val t = UserWorkflow.run(spark, BattleFixtures.rawBattlesDf(spark),
      DeckType.cardLookup(BattleFixtures.cardMetaDf(spark)))
    assert(t.normalized.count() === 4) // valid ranked full-deck battles in fixture
    assert(t.summary.collect()(0).getAs[Long]("games") === 4)
    assert(t.summaryTable.count() === 5) // games/wins/losses/draws/win_rate
    assert(t.deckTypeSummary.columns.contains("win_rate"))
    assert(t.cardBest.collect().map(_.getAs[String]("card")).toSeq ===
      t.cardWorst.collect().map(_.getAs[String]("card")).reverse.toSeq)
    assert(t.userDeckMatchups.columns.contains("role"))
    assert(t.deckTypeMatchups.count() > 0)
    assert(t.deckBest.count() === t.deckWorst.count())
  }

  test("MetaWorkflow.run converges and produces the post-loop tables once") {
    val batches = Iterator.continually(BattleFixtures.classifiedBattles(spark, 30)).take(10)
    val t = MetaWorkflow.run(spark, batches, minTotal = 100L, minPerType = 20L,
      maxLoops = 10, summaryMinGames = 20, matchupMinGames = 4)
    assert(t.converged && t.loops === 4 && t.totalBattles === 120)
    assert(t.participants.count() === 240)
    assert(t.deckSummary.agg(sum("meta_share")).collect()(0).getDouble(0) > 0.999)
    assert(t.deckTypeCounts.count() === DeckType.Archetypes.size)
    assert(t.matchupSummary.collect().forall(_.getAs[Long]("games") >= 4))
  }

  test("PlayerSampler: exact-k, excludes used, deterministic, disjoint across salts-chain") {
    import spark.implicits._
    val players = (1L to 100L).toDF("tag")
    val used = (1L to 20L).toDF("tag")
    val s1 = PlayerSampler.sampleUnused(players, used, 10, "tag", "loop1")
      .collect().map(_.getLong(0)).toSeq
    val s1b = PlayerSampler.sampleUnused(players, used, 10, "tag", "loop1")
      .collect().map(_.getLong(0)).toSeq
    assert(s1 === s1b) // deterministic
    assert(s1.size === 10)
    assert(s1.forall(_ > 20)) // used excluded
    // next loop: previous sample added to used → disjoint
    val used2 = used.union(s1.toDF("tag"))
    val s2 = PlayerSampler.sampleUnused(players, used2, 10, "tag", "loop2")
      .collect().map(_.getLong(0)).toSeq
    assert(s2.toSet.intersect(s1.toSet).isEmpty)
  }
}
