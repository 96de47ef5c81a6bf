package graft.battle

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The Spark work of one player's coach session: analyzing the log is
  * one job, the user context tables plan no exchange, and each table
  * costs one job on the first answer that reads it. */
class UserSessionShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def newCoach(): CoachSession = new CoachSession(
    spark,
    BattleFixtures.cardMetaDf(spark),
    () => Iterator.continually(BattleFixtures.classifiedBattles(spark, 30)).take(10),
    minTotal = 100L, minPerType = 20L)

  private val userContext = Set("user_summary", "user_deck_summary", "user_matchups",
    "card_performance")

  test("analyzeUser starts one job, and games is the analyzed row count") {
    val coach = newCoach()
    val (user, jobs) = jobsStartedBy(coach.analyzeUser(BattleFixtures.rawBattlesDf(spark)))
    assert(jobs === 1)
    assert(user.games === 4)
    assert(user.summary.collect()(0).getAs[Long]("games") === user.games)
  }

  test("no user context table plans a shuffle exchange") {
    val user = newCoach().analyzeUser(BattleFixtures.rawBattlesDf(spark))
    Seq("user_summary" -> user.summaryTable, "user_deck_summary" -> user.deckTypeSummary,
      "user_matchups" -> user.deckTypeMatchups, "card_performance" -> user.cardBest)
      .foreach { case (name, df) =>
        val exchanges = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
        assert(exchanges.isEmpty, s"$name plans an exchange:\n${df.queryExecution.executedPlan}")
      }
  }

  test("the first answer over each user table starts one job for it, repeats none") {
    val coach = newCoach()
    coach.answer("what does the meta look like", coach.analyzeUser(BattleFixtures.rawBattlesDf(spark)))
    val user = coach.analyzeUser(BattleFixtures.rawBattlesDf(spark))
    val questions = Seq("how is my win rate", "How do I play against Beatdown?",
      "what is my best card", "zzzzz unrelated")
    questions.foldLeft(Set.empty[String]) { (rendered, q) =>
      val (a, jobs) = jobsStartedBy(coach.answer(q, user))
      val fresh = a.needs.toSet.intersect(userContext) -- rendered
      assert(jobs === fresh.size, s"'$q' needs ${a.needs}, ${rendered.size} tables rendered before")
      rendered ++ fresh
    }
  }
}
