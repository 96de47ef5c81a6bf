package graft.battle

import graft.{SparkEntry, SparkSpec}
import java.util.concurrent.{Callable, Executors}

class CoachSessionSpec extends SparkSpec {

  private def newCoach(): CoachSession = new CoachSession(
    spark,
    BattleFixtures.cardMetaDf(spark),
    () => Iterator.continually(BattleFixtures.classifiedBattles(spark, 30)).take(10),
    minTotal = 100L, minPerType = 20L)

  /** The tables a coach answer draws from, by QnaRouter name. */
  private def contextTables(coach: CoachSession, user: UserWorkflow.UserTables) = Map(
    "user_summary" -> user.summaryTable,
    "user_deck_summary" -> user.deckTypeSummary,
    "user_matchups" -> user.deckTypeMatchups,
    "card_performance" -> user.cardBest,
    "meta_deck_summary" -> coach.meta.deckSummary,
    "meta_matchups" -> coach.meta.matchupSummary)

  private val questions = Seq(
    "how is my win rate" -> "user",
    "How do I play against Beatdown?" -> "matchup",
    "what is my best card" -> "card",
    "what does the meta look like" -> "meta",
    "zzzzz unrelated" -> "other")

  test("coach flow: meta once, user analytics, routed answer with context") {
    val coach = newCoach()
    assert(coach.meta.converged)
    val user = coach.analyzeUser(BattleFixtures.rawBattlesDf(spark))
    val a = coach.answer("How do I play against Beatdown?", user)
    assert(a.category === "matchup")
    assert(a.context.startsWith("{") && a.context.length <= QnaRouter.MaxContextChars)
    assert(a.needs.contains("meta_matchups"))
    // 4 ranked games < 20 → health warning fires for non-meta category
    assert(a.warning.isDefined)
    val metaQ = coach.answer("what does the meta look like", user)
    assert(metaQ.category === "meta")
    assert(metaQ.warning.isEmpty)
  }

  test("memoized answers equal buildContext in any order; repeats start no Spark job") {
    val coach = newCoach()
    val orders = Seq(questions, questions.reverse,
      new scala.util.Random(7).shuffle(questions))
    orders.foreach { order =>
      val user = coach.analyzeUser(BattleFixtures.rawBattlesDf(spark))
      val tables = contextTables(coach, user)
      val first = order.map { case (q, cat) =>
        val a = coach.answer(q, user)
        assert(a.category === cat)
        assert(a.context === QnaRouter.buildContext(a.needs, tables), s"$cat context")
        a
      }
      val (again, jobs) = jobsStartedBy(order.map { case (q, _) => coach.answer(q, user) })
      assert(jobs === 0, "repeat answers for the same user ran Spark jobs")
      assert(again === first)
    }
  }

  test("concurrent answers over a fresh player's tables are exact") {
    val coach = newCoach()
    val user = coach.analyzeUser(BattleFixtures.rawBattlesDf(spark))
    val expected = questions.map { case (q, _) =>
      val (_, needs) = QnaRouter.classify(q)
      q -> QnaRouter.buildContext(needs, contextTables(coach, user))
    }.toMap
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).flatMap(_ => questions).map { case (q, _) =>
        pool.submit(new Callable[(String, String)] {
          override def call(): (String, String) = q -> coach.answer(q, user).context
        })
      }
      futures.map(_.get()).foreach { case (q, ctx) => assert(ctx === expected(q), q) }
    } finally pool.shutdown()
  }

  test("driver smoke: SparkEntry.entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq.contains("win_rate"))
  }
}
