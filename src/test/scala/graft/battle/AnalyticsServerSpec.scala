package graft.battle

import graft.SparkSpec

/** The serving layer must expose the computed tables and the Phase-2
  * routing over real HTTP — pre-rendered at construction, no Spark on
  * the request path — with the same classify/context/health semantics
  * as QnaRouter. */
class AnalyticsServerSpec extends SparkSpec {

  private def get(base: String, path: String): (Int, String) = {
    val conn = new java.net.URL(base + path).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (status, body)
  }

  private def withServer[T](games: Long)(f: String => T): T = {
    val classified = BattleFixtures.classifiedBattles(spark, 40).cache()
    val tables = Map(
      "user_summary" -> UserAnalytics.computeSummary(classified),
      "user_deck_summary" -> UserAnalytics.summarizeDeckTypes(classified),
      "user_matchups" -> UserAnalytics.deckTypeMatchups(classified),
      "meta_deck_summary" -> MetaAnalytics.metaDeckSummary(
        MetaAnalytics.participantTable(classified), minGames = 5),
      "meta_matchups" -> MetaAnalytics.metaMatchupSummary(
        MetaAnalytics.symmetricMatchupMatrix(classified), minGames = 1),
      "card_performance" -> UserAnalytics.cardPerformance(classified))
    val srv = new AnalyticsServer(tables, gamesPlayed = games)
    val port = srv.start()
    try f(s"http://127.0.0.1:$port") finally srv.stop()
  }

  test("health, table listing, and table serving round-trip over HTTP") {
    withServer(games = 40) { base =>
      val (hs, hb) = get(base, "/health")
      assert(hs === 200 && hb.contains("\"status\":\"ok\"") && hb.contains("\"games\":40"))
      val (ts, tb) = get(base, "/tables")
      assert(ts === 200)
      Seq("user_summary", "meta_matchups", "card_performance")
        .foreach(n => assert(tb.contains("\"" + n + "\""), s"$n missing from listing"))
      val (ss, sb) = get(base, "/table/user_summary")
      assert(ss === 200 && sb.startsWith("[") && sb.contains("\"games\""))
      val (es, eb) = get(base, "/table/nope")
      assert(es === 404 && eb.contains("unknown table"))
    }
  }

  test("qna route classifies, ships the routed context, and warns on low data") {
    withServer(games = 7) { base =>
      val (s1, b1) = get(base, "/qna?q=How%20do%20I%20play%20against%20Beatdown%3F")
      assert(s1 === 200)
      assert(b1.contains("\"category\":\"matchup\""))
      // context carries the matchup-routed tables, top-5 rows each
      assert(b1.contains("meta_matchups") && b1.contains("user_deck_summary"))
      // 7 < 20 games and category != meta → the health warning ships
      assert(b1.contains("\"warning\"") && b1.contains("Low data"))
      // meta questions are exempt from the warning
      val (_, b2) = get(base, "/qna?q=What%20is%20the%20meta%3F")
      assert(b2.contains("\"category\":\"meta\"") && !b2.contains("\"warning\""))
      // missing parameter is a client error
      val (s3, _) = get(base, "/qna")
      assert(s3 === 400)
    }
  }

  test("construction renders each table once: one Spark job per table") {
    // single-partition frames, so rendering one table is exactly one job
    val tables = Seq("user_summary", "user_deck_summary", "card_performance")
      .map(_ -> spark.range(0, 200, 1, 1).toDF("id")).toMap
    val (srv, jobs) = jobsStartedBy(new AnalyticsServer(tables, gamesPlayed = 40))
    assert(jobs === tables.size)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      val (_, rows) = get(base, "/table/card_performance")
      assert(rows.count(_ == '{') === 100, "/table serves the first maxRows rows")
      val (_, qna) = get(base, "/qna?q=best%20card")
      val expect = QnaRouter.buildContext(Seq("card_performance"), tables)
      assert(qna.contains("\"context\":" + graft.Json.str(expect)), qna)
    } finally srv.stop()
  }

  test("served rows equal the engine's own JSON rendering (no drift)") {
    withServer(games = 40) { base =>
      val classified = BattleFixtures.classifiedBattles(spark, 40)
      val expect = QnaRouter.buildContext(Seq("user_summary"),
        Map("user_summary" -> UserAnalytics.computeSummary(classified)))
      val (_, body) = get(base, "/table/user_summary")
      // buildContext wraps rows as {"name":[rows]} — the served table is
      // the bare [rows]; both must agree on the row payloads
      val inner = expect.stripPrefix("{\"user_summary\":").stripSuffix("}")
      assert(body === inner, s"served $body vs engine $inner")
    }
  }
}
