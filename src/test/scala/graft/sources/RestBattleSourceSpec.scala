package graft.sources

import graft.SparkSpec
import graft.battle.{BattleFixtures, DeckType, MetaWorkflow, UserWorkflow}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** `get` calls per path, JVM-global: the client is serialized into
  * tasks, so a counter inside the instance would count on copies. */
object CountingClient {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()
  def count(path: String): Int = Option(calls.get(path)).map(_.get).getOrElse(0)
}

final class CountingClient(inner: RestClient) extends RestClient {
  override def get(path: String): String = {
    CountingClient.calls.computeIfAbsent(path, _ => new AtomicInteger()).incrementAndGet()
    inner.get(path)
  }
}

/** Offline REST-source shape (VERDICT r1 missing #1): canned-JSON client
  * behind the RestClient trait, tag normalization/encoding, items-unwrap,
  * and the full UserWorkflow running end-to-end through the source
  * instead of a fixture DataFrame. */
class RestBattleSourceSpec extends SparkSpec {

  private val battleArray = BattleFixtures.rawBattleJson.mkString("[", ",", "]")

  test("tag normalization and %23 encoding match battles.py semantics") {
    assert(RestBattleSource.normalizeTag("  abc123 ") === "#ABC123")
    assert(RestBattleSource.normalizeTag("#qq") === "#QQ")
    assert(RestBattleSource.encodeTag("abc") === "%23ABC")
    assert(RestBattleSource.battlelogPath(" #p1 ") === "/players/%23P1/battlelog")
    assert(RestBattleSource.leaderboardPath(300) === "/leaderboard/170000005?limit=300")
  }

  test("normalizeTag trims, uppercases, ensures leading #") {
    assert(RestBattleSource.normalizeTag("#QQQ") === "#QQQ")
    assert(RestBattleSource.encodeTag("  abc123 ") === "%23ABC123")
    assert(RestBattleSource.encodeTag("#QQQ") === "%23QQQ")
    // battles.py encodes only the FIRST '#': an inner one stays literal
    assert(RestBattleSource.normalizeTag("x#y") === "#X#Y")
    assert(RestBattleSource.encodeTag("x#y") === "%23X#Y")
  }

  test("fetchBattles parses bare-array AND items-wrapped responses identically") {
    val client = new FixtureRestClient(Map(
      "/players/%23A/battlelog" -> battleArray,
      "/players/%23B/battlelog" -> s"""{"items": $battleArray}"""))
    val df = RestBattleSource.fetchBattles(spark, client, Seq("a", "#B"))
    val perTag = df.groupBy("player_tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perTag === Map("#A" -> 8L, "#B" -> 8L))
    // raw battle columns present for downstream Normalize
    assert(df.columns.toSet === Set("player_tag", "battleTime", "type", "gameMode", "team", "opponent"))
  }

  test("unknown tag raises like the reference's non-200 branch") {
    val client = new FixtureRestClient(Map.empty)
    val ex = intercept[org.apache.spark.SparkException] {
      RestBattleSource.fetchBattles(spark, client, Seq("nope")).collect()
    }
    assert(ex.getMessage.contains("404") || ex.getCause != null)
  }

  test("UserWorkflow runs end-to-end through the REST source") {
    val client = new FixtureRestClient(Map("/players/%23ME/battlelog" -> battleArray))
    val raw = RestBattleSource.fetchBattles(spark, client, Seq("#me"))
    val t = UserWorkflow.run(spark, raw, DeckType.cardLookup(BattleFixtures.cardMetaDf(spark)))
    assert(t.normalized.count() === 4) // same valid battles as the fixture path
    assert(t.summary.collect()(0).getAs[Long]("games") === 4)
    assert(t.deckTypeSummary.columns.contains("win_rate"))
  }

  test("MetaWorkflow Phase 0 runs end-to-end through the REST source") {
    val tags = (1 to 12).map(i => s"#P$i")
    val lb = tags.zipWithIndex.map { case (t, i) =>
      s"""{"tag": "$t", "name": "player$i", "rank": ${i + 1}, "eloRating": ${2000 - i}}"""
    }.mkString("[", ",", "]")
    val fixtures = Map("/leaderboard/170000005?limit=12" -> s"""{"items": $lb}""") ++
      tags.map(t => s"/players/${t.replace("#", "%23")}/battlelog" -> battleArray)
    val client = new FixtureRestClient(fixtures)
    // each cohort of 3 players contributes 3 × 4 valid battles
    val t = MetaWorkflow.runFromSource(spark, client, BattleFixtures.cardMetaDf(spark),
      topLimit = 12, cohortK = 3, minTotal = 24L, minPerType = 2L, maxLoops = 5,
      summaryMinGames = 4, matchupMinGames = 1)
    assert(t.converged, s"loops=${t.loops} total=${t.totalBattles}")
    assert(t.loops === 2 && t.totalBattles === 24)
    assert(t.participants.count() === 48)
    assert(t.deckSummary.count() > 0)
  }

  test("fetchTopPlayers unwraps items and limits") {
    val items = (1 to 5).map(i =>
      s"""{"tag": "#P$i", "name": "player$i", "rank": $i, "eloRating": ${2000 - i}}""")
      .mkString("[", ",", "]")
    val client = new FixtureRestClient(Map(
      "/leaderboard/170000005?limit=3" -> s"""{"items": $items}"""))
    val df = RestBattleSource.fetchTopPlayers(spark, client, 3)
    val rows = df.collect()
    assert(rows.length === 3)
    assert(rows.map(_.getString(0)).toSeq === Seq("#P1", "#P2", "#P3"))
  }

  test("UserWorkflow reads a fetched battle log once, across every table") {
    val path = RestBattleSource.battlelogPath("#ONCE")
    val client = new CountingClient(new FixtureRestClient(Map(path -> battleArray)))
    val raw = RestBattleSource.fetchBattles(spark, client, Seq("#once"))
    val t = UserWorkflow.run(spark, raw, DeckType.cardLookup(BattleFixtures.cardMetaDf(spark)))
    Seq(t.normalized, t.summary, t.summaryTable, t.deckTypeSummary, t.deckTypeMatchups,
      t.userDeckMatchups, t.cardBest, t.cardWorst, t.deckBest, t.deckWorst).foreach(_.collect())
    assert(CountingClient.count(path) === 1)
    t.normalized.unpersist()
  }

  test("MetaWorkflow fetches each cohort tag once per loop") {
    val tags = (1 to 12).map(i => s"#CNT$i")
    val lb = tags.zipWithIndex.map { case (t, i) =>
      s"""{"tag": "$t", "name": "player$i", "rank": ${i + 1}, "eloRating": ${2000 - i}}"""
    }.mkString("[", ",", "]")
    val paths = tags.map(RestBattleSource.battlelogPath)
    val client = new CountingClient(new FixtureRestClient(
      Map("/leaderboard/170000005?limit=12" -> s"""{"items": $lb}""") ++
        paths.map(_ -> battleArray)))
    val t = MetaWorkflow.runFromSource(spark, client, BattleFixtures.cardMetaDf(spark),
      topLimit = 12, cohortK = 3, minTotal = 36L, minPerType = 2L, maxLoops = 5,
      summaryMinGames = 4, matchupMinGames = 1)
    assert(t.loops === 3 && t.totalBattles === 36)
    t.deckSummary.collect(); t.matchupSummary.collect(); t.deckTypeCounts.collect()
    // tags are never resampled, so once per loop means once in total
    val counts = paths.map(CountingClient.count)
    assert(counts.count(_ == 1) === t.loops * 3, counts)
    assert(counts.forall(_ <= 1), counts)
  }
}
