package graft.battle

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Phase 2 deterministic question routing + context assembly
  * (src/workflows/phase2_qna_workflow.py:224-471,
  * phase2_constants.py:46-107). The reference's LLM classifier is
  * nondeterministic and networked; per SURVEY §7.3 the engine isolates
  * that boundary behind this rule-based router that replicates the
  * validation + fallback semantics (unknown → "other" → ship all
  * tables), so Phase 2 is CI-testable without network. An LLM-backed
  * implementation can replace `classify` behind the same signature.
  */
/** LLM boundary (SURVEY §7.3): classification is behind this trait so
  * the deterministic keyword default keeps Phase 2 CI-testable; an
  * LLM-backed classifier implements the same signature with the same
  * validation contract (unknown category → "other" + SEND_ALL). */
trait QuestionClassifier {
  def classify(question: String): (String, Seq[String])
}

object QnaRouter extends QuestionClassifier {

  val Categories: Seq[String] = Seq("user", "matchup", "card", "meta", "other")

  /** Data blocks per category (DEFAULT_NEEDS, phase2_constants.py:46-52;
    * "other" ships everything — SEND_ALL fallback). */
  val DefaultNeeds: Map[String, Seq[String]] = Map(
    "user" -> Seq("user_summary", "user_deck_summary"),
    "matchup" -> Seq("user_matchups", "meta_matchups", "user_deck_summary", "meta_deck_summary"),
    "card" -> Seq("card_performance"),
    "meta" -> Seq("meta_deck_summary", "meta_matchups"),
    "other" -> Seq("user_summary", "user_deck_summary", "user_matchups",
      "meta_deck_summary", "meta_matchups", "card_performance"))

  private val keywordRules: Seq[(String, Seq[String])] = Seq(
    "matchup" -> Seq("matchup", "against", "versus", "vs", "counter"),
    "card" -> Seq("card", "cards"),
    "meta" -> Seq("meta", "ladder", "archetype", "popular"),
    "user" -> Seq("my", "me", "i", "win rate", "summary", "deck"))

  /** question → (category, data needs). Unknown → "other" + SEND_ALL
    * (validation fallback, phase2_qna_workflow.py:254-265).
    *
    * Keywords match on WHOLE WORDS (token sequences), not raw substrings:
    * substring contains over-matched inside words ("i" in "hi", "me" in
    * "game", "vs" in "favs"), silently stealing genuinely unknown
    * questions from the documented unknown → "other" SEND_ALL fallback. */
  def classify(question: String): (String, Seq[String]) = {
    val tokens = question.toLowerCase.split("[^a-z0-9#]+").filter(_.nonEmpty).toSeq
    def hasPhrase(kw: String): Boolean = {
      val kwTokens = kw.split("\\s+").toSeq
      tokens.sliding(kwTokens.size).contains(kwTokens)
    }
    val category = keywordRules
      .collectFirst { case (cat, kws) if kws.exists(hasPhrase) => cat }
      .getOrElse("other")
    (category, DefaultNeeds(category))
  }

  /** Max context JSON chars before the expert call
    * (phase2_qna_workflow.py:397-398). */
  val MaxContextChars: Int = 4000

  /** Rows shipped per context table (prep_*_context_node :54-220: user
    * tables limited to top 5). */
  val TopN: Int = 5

  /** One table's first `n` rows as JSON objects — the payload of a
    * context block. */
  def renderRows(df: DataFrame, n: Int): IndexedSeq[String] =
    df.limit(n)
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("j"))
      .collect().map(_.getString(0)).toIndexedSeq

  /** Context JSON over already-rendered rows: one `"name":[rows]` block
    * per need, in order, skipping names absent from `rows`; truncated at
    * [[MaxContextChars]] (phase2_qna_workflow.py:397-398). No Spark. */
  def assemble(needs: Seq[String], rows: Map[String, Seq[String]]): String = {
    val parts = needs.flatMap(name =>
      rows.get(name).map(r => "\"" + name + "\":[" + r.mkString(",") + "]"))
    val json = parts.mkString("{", ",", "}")
    if (json.length <= MaxContextChars) json else json.substring(0, MaxContextChars)
  }

  /** Per-route table selection + top-N limit + JSON rendering
    * (prep_*_context_node :54-220: tables are shipped as JSON rows):
    * [[renderRows]] of each needed table, then [[assemble]]. */
  def buildContext(
      needs: Seq[String],
      tables: Map[String, DataFrame],
      topN: Int = TopN): String =
    assemble(needs, needs.distinct.flatMap(n => tables.get(n).map(df => n -> renderRows(df, topN))).toMap)

  /** enough_data_node (:289-326): warn when games_played < 20; meta
    * questions exempt. */
  def dataHealthWarning(category: String, gamesPlayed: Long, threshold: Long = 20L): Option[String] =
    if (category != "meta" && gamesPlayed < threshold)
      Some(s"Low data: only $gamesPlayed ranked games (< $threshold)")
    else None
}

/** Context rows of a fixed set of tables, each table built and rendered
  * ([[QnaRouter.renderRows]], top [[QnaRouter.TopN]]) on its first use
  * and kept for the life of this object, so answers over the same
  * tables start no Spark job after the first. The tables are thunks:
  * building this object forces none of them. Safe under concurrent
  * callers: a table is rendered at most once. */
final class ContextRows(tables: Map[String, () => DataFrame]) {
  private final class Slot(df: () => DataFrame) {
    lazy val rows: IndexedSeq[String] = QnaRouter.renderRows(df(), QnaRouter.TopN)
  }
  private val slots = tables.map { case (name, df) => name -> new Slot(df) }

  /** Rendered rows of the `needs` this object holds, by name. */
  def apply(needs: Seq[String]): Map[String, Seq[String]] =
    needs.distinct.flatMap(n => slots.get(n).map(s => n -> s.rows)).toMap
}
