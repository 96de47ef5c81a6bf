package graft.battle

/** End-to-end battle-domain demo: the engine-side replication of the
  * reference's notebook flow (clash_agent_demo.ipynb cells 1-6, minus
  * network and LLM): Phase 0 meta convergence loop → meta tables,
  * Phase 1 user analytics from raw battle JSON, Phase 2 deterministic
  * Q&A routing over the computed tables.
  *
  * Run: sbt "runMain graft.battle.BattleDemo"
  */
object BattleDemo {
  def main(args: Array[String]): Unit = {
    val env = graft.Harness.env
    val spark = env.session("graft-battle-demo")

    // ---- Phase 1: raw JSON → normalize → classify → user analytics
    println("=== Phase 1: normalize raw battle log ===")
    val raw = BattleFixtures.rawBattlesDf(spark)
    val normalized = Normalize(raw)
    normalized.show(truncate = false)

    val classified = BattleFixtures.classifiedBattles(spark, 60).cache()
    println("=== user summary ===")
    UserAnalytics.computeSummary(classified).show()
    println("=== deck-type summary (both POVs) ===")
    UserAnalytics.summarizeDeckTypes(classified).show()
    println("=== card performance (best, min 3 games) ===")
    UserAnalytics.cardPerformance(classified).show(5, truncate = false)
    println("=== summary unpivot ===")
    UserAnalytics.summaryTable(classified).show()

    // ---- Phase 0: convergence loop → meta tables
    println("=== Phase 0: meta convergence loop ===")
    val batches = Iterator.continually(BattleFixtures.classifiedBattles(spark, 30)).take(10)
    val res = MetaLoop.run(spark, batches, minTotal = 100L, minPerType = 20L, maxLoops = 10)
    println(s"converged=${res.converged} loops=${res.loops} battles=${res.totalBattles}")
    val participants = MetaAnalytics.participantTable(res.battles)
    val deckSummary = MetaAnalytics.metaDeckSummary(participants, minGames = 20)
    println("=== meta deck summary ===")
    deckSummary.show()
    val matrix = MetaAnalytics.symmetricMatchupMatrix(res.battles)
    println("=== meta matchup summary (min 4 games) ===")
    MetaAnalytics.metaMatchupSummary(matrix, minGames = 4).show(8)

    // ---- Plot bundle: the notebook's on-disk chart files (cell 4),
    // written fully offline — Vega-Lite spec + rasterized PNG each
    println("=== plot bundle ===")
    val plotsDir = env.plotsDir
    val userPlots = PlotBundle.userPlots(classified, plotsDir)
    val metaPlots = PlotBundle.metaPlots(
      deckSummary, MetaAnalytics.metaMatchupSummary(matrix, minGames = 4), plotsDir)
    (userPlots ++ metaPlots).toSeq.sortBy(_._1)
      .foreach { case (k, p) => println(s"$k -> $p") }

    // ---- Serving: the server.py twin — start, self-exercise over real
    // HTTP, stop (the demo must terminate; a deployment just skips stop)
    println("=== serving layer ===")
    val server = new AnalyticsServer(
      Map(
        "user_summary" -> UserAnalytics.computeSummary(classified),
        "user_deck_summary" -> UserAnalytics.summarizeDeckTypes(classified),
        "user_matchups" -> UserAnalytics.deckTypeMatchups(classified),
        "meta_deck_summary" -> deckSummary,
        "meta_matchups" -> MetaAnalytics.metaMatchupSummary(matrix, minGames = 4),
        "card_performance" -> UserAnalytics.cardPerformance(classified)),
      gamesPlayed = res.totalBattles)
    val port = server.start()
    def fetch(path: String): String = {
      val src = scala.io.Source.fromURL(s"http://127.0.0.1:$port$path", "UTF-8")
      try src.mkString finally src.close()
    }
    println(s"serving on 127.0.0.1:$port")
    println(s"GET /health -> ${fetch("/health")}")
    println(s"GET /qna    -> ${fetch("/qna?q=what%20beats%20Beatdown%3F").take(200)}...")
    server.stop()

    // ---- Phase 2: deterministic routing + context assembly
    println("=== Phase 2: Q&A routing ===")
    val question = "How do I play against Beatdown decks?"
    val (category, needs) = QnaRouter.classify(question)
    val ctx = QnaRouter.buildContext(needs, Map(
      "meta_deck_summary" -> deckSummary,
      "meta_matchups" -> MetaAnalytics.metaMatchupSummary(matrix, minGames = 4)))
    println(s"question: $question")
    println(s"category=$category needs=${needs.mkString(",")}")
    println(s"context (${ctx.length} chars): ${ctx.take(300)}...")
    QnaRouter.dataHealthWarning(category, res.totalBattles).foreach(w => println(s"warning: $w"))

    spark.stop()
  }
}
