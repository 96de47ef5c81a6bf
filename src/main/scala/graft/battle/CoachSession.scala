package graft.battle

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The combined coach flow (build_coach_graph,
  * phase2_qna_workflow.py:659-685) as a non-interactive session object:
  * ensure-meta once, analyze a user, answer questions over the computed
  * tables. The reference's human-interrupt/LLM boundaries become plain
  * method calls; an LLM-backed answerer can wrap `answer`'s context.
  */
final class CoachSession(
    spark: SparkSession,
    cardMeta: DataFrame,
    metaBatches: () => Iterator[DataFrame],
    minTotal: Long = 2000L,
    minPerType: Long = 200L,
    classifier: QuestionClassifier = QnaRouter) {

  /** ensure_meta (:557-570): Phase 0 runs once, lazily. */
  lazy val meta: MetaWorkflow.MetaTables =
    MetaWorkflow.run(spark, metaBatches(), minTotal, minPerType)

  /** The card dimension as a lookup literal, collected once per session
    * and shared by every [[analyzeUser]]. */
  private lazy val lookup = DeckType.cardLookup(cardMeta)

  /** ensure_user (:601-615): Phase 1 for one player's raw battle log:
    * one Spark job, which fetches and classifies the log; the tables
    * are built on first read ([[UserWorkflow.UserTables]]). */
  def analyzeUser(rawBattles: DataFrame): UserWorkflow.UserTables =
    UserWorkflow.run(spark, rawBattles, lookup)

  /** The two meta context tables, each rendered once per session. */
  private lazy val metaRows = new ContextRows(Map(
    "meta_deck_summary" -> (() => meta.deckSummary),
    "meta_matchups" -> (() => meta.matchupSummary)))

  /** qa_answer (:621-642): classify → select tables → assemble context
    * → health check. The returned context is what the expert LLM call
    * receives — render it with [[coach]] (LLM-backed via [[LlmExpert]],
    * or the deterministic [[EchoExpert]] for CI flows). Every table is
    * rendered on its first use and reused after ([[ContextRows]]), so
    * repeat answers only assemble strings; the context equals
    * [[QnaRouter.buildContext]] over the same tables. */
  def answer(question: String, user: UserWorkflow.UserTables): CoachSession.Answer = {
    val (category, needs) = classifier.classify(question)
    val context = QnaRouter.assemble(needs, user.contextRows(needs) ++ metaRows(needs))
    CoachSession.Answer(category, needs, context, QnaRouter.dataHealthWarning(category, user.games))
  }

  /** The full expert_answer flow (phase2_qna_workflow.py:328-433):
    * assemble the answer context, then render it through `expert`. */
  def coach(question: String, user: UserWorkflow.UserTables,
      expert: ExpertAnswerer): String =
    expert.answer(question, answer(question, user))
}

object CoachSession {
  final case class Answer(
      category: String,
      needs: Seq[String],
      context: String,
      warning: Option[String])
}
