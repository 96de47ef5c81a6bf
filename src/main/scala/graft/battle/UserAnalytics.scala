package graft.battle

import graft.operators.Wld
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase 1 per-player analytics (src/analytics/user_analytics.py).
  * All functions take the normalized-battle DataFrame
  * (battle_time, result, my_cards, opp_cards, mode_name [, deck types]).
  *
  * Ranking quirk preserved (SURVEY §2.7): the reference's "worst" lists
  * are `reversed(sorted(...))` — a full reversal inverts ties too, so
  * worst ≡ the OPPOSITE total sort, not a re-sort with the same
  * tiebreaks. We therefore sort worst/easy ascending on every key.
  */
object UserAnalytics {

  /** compute_summary (user_analytics.py:210-234): global WLD counts;
    * zeros (not null) on empty input (:213-220). */
  def computeSummary(battles: DataFrame): DataFrame =
    battles
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .withColumn("win_rate", Wld.winRate)

  /** summarize_deck_types (deck_type.py:192-274): per-archetype stats
    * over BOTH sides; opponent rows flip the result; draws are the else
    * branch (:256-269). Sorted (win_rate, games) desc (:189). */
  def summarizeDeckTypes(battles: DataFrame): DataFrame =
    battles
      .select(explode(array(
        struct(col("my_deck_type").as("deck_type"), col("result")),
        struct(col("opp_deck_type").as("deck_type"), Wld.flip(col("result")).as("result")))).as("p"))
      .select(col("p.deck_type").as("deck_type"), col("p.result").as("result"))
      .groupBy(col("deck_type"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .withColumn("win_rate", Wld.winRate)
      .orderBy(col("win_rate").desc, col("games").desc, col("deck_type"))

  /** summarize_deck_types returns a (my, opp) PAIR in the reference
    * (deck_type.py:192-274); [[summarizeDeckTypes]] is the union view.
    * This is the side-scoped view the plot bundle needs: "my" groups
    * my_deck_type with the result as-is, "opp" groups opp_deck_type
    * with the result flipped (deck_type.py:252-268 — opp wins when I
    * lose). Sorted like the union view. */
  def deckTypesBySide(battles: DataFrame, side: String): DataFrame = {
    require(side == "my" || side == "opp", s"side must be my|opp, got $side")
    val rows =
      if (side == "opp")
        battles.select(col("opp_deck_type").as("deck_type"),
          Wld.flip(col("result")).as("result"))
      else
        battles.select(col("my_deck_type").as("deck_type"), col("result"))
    rows.groupBy(col("deck_type"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .withColumn("win_rate", Wld.winRate)
      .orderBy(col("win_rate").desc, col("games").desc, col("deck_type"))
  }

  /** compute_card_performance splits sides in the reference
    * (user_analytics.py:285-307: best/worst read MY cards only,
    * tough/easy read OPPONENT cards with the result flipped);
    * [[cardPerformance]] is the union view. Side-scoped twin for the
    * plot bundle, same min-games HAVING and ranking quirks. */
  def cardPerformanceBySide(battles: DataFrame, side: String,
      minGames: Int = 3, worst: Boolean = false): DataFrame = {
    require(side == "my" || side == "opp", s"side must be my|opp, got $side")
    val rows =
      if (side == "opp")
        battles.select(explode(col("opp_cards")).as("card"),
          Wld.flip(col("result")).as("result"))
      else
        battles.select(explode(col("my_cards")).as("card"), col("result"))
    val perCard = rows.groupBy(col("card"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .filter(col("games") >= minGames)
      .withColumn("win_rate", Wld.winRate)
    if (worst) perCard.orderBy(col("win_rate").asc, col("games").asc, col("card").desc)
    else perCard.orderBy(col("win_rate").desc, col("games").desc, col("card"))
  }

  /** compute_deck_type_matchups (user_analytics.py:9-96): user-POV
    * archetype-vs-archetype, min games filter, (games, win_rate) desc. */
  def deckTypeMatchups(battles: DataFrame, minGames: Int = 1): DataFrame =
    battles
      .groupBy(col("my_deck_type"), col("opp_deck_type"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .filter(col("games") >= minGames)
      .withColumn("win_rate", Wld.winRate)
      .orderBy(col("games").desc, col("win_rate").desc, col("my_deck_type"), col("opp_deck_type"))

  /** compute_user_deck_matchups (user_analytics.py:99-175): exact
    * opponent decks (sorted-card identity), split tough/easy against the
    * overall win rate. δ=0 duplicates wr == overall into BOTH lists —
    * reference quirk (:160-169). tough sorts ascending, easy descending
    * (:172-173). Returns a role-tagged union. */
  def userDeckMatchups(spark: SparkSession, battles: DataFrame, delta: Double = 0.0): DataFrame = {
    val overall = computeSummary(battles).select(col("win_rate").as("overall")).
      collect()(0).getDouble(0)
    val perDeck = battles
      .groupBy(array_sort(col("opp_cards")).as("opp_deck"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .withColumn("win_rate", Wld.winRate)
    val tough = perDeck.filter(col("win_rate") <= overall - delta)
      .withColumn("role", lit("tough"))
      .orderBy(col("win_rate").asc, col("games").asc, col("opp_deck"))
    val easy = perDeck.filter(col("win_rate") >= overall + delta)
      .withColumn("role", lit("easy"))
      .orderBy(col("win_rate").desc, col("games").desc, col("opp_deck"))
    tough.unionByName(easy)
      .select(col("role"), col("opp_deck"), col("games"), col("wins"),
        col("losses"), col("draws"), col("win_rate"))
  }

  /** compute_card_performance (user_analytics.py:240-322): explode both
    * sides' cards (opponent result flipped :301-307), min 3 games
    * (:285), sorted (win_rate, games) desc; ascending = the "worst"
    * ordering (reversal quirk). */
  def cardPerformance(battles: DataFrame, minGames: Int = 3, worst: Boolean = false): DataFrame = {
    val perCard = battles
      .select(explode(array(
        struct(col("my_cards").as("cards"), col("result")),
        struct(col("opp_cards").as("cards"), Wld.flip(col("result")).as("result")))).as("p"))
      .select(explode(col("p.cards")).as("card"), col("p.result").as("result"))
      .groupBy(col("card"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .filter(col("games") >= minGames)
      .withColumn("win_rate", Wld.winRate)
    // "worst" reverses the best list (user_analytics.py:310,315): a full
    // reversal inverts ties too, so EVERY key flips — including the
    // tiebreak.
    if (worst) perCard.orderBy(col("win_rate").asc, col("games").asc, col("card").desc)
    else perCard.orderBy(col("win_rate").desc, col("games").desc, col("card"))
  }

  /** compute_deck_performance (user_analytics.py:328-395): exact-deck
    * stats for BOTH sides (opponent flipped :357-364), array-sorted deck
    * identity, min 3 games. */
  def deckPerformance(battles: DataFrame, minGames: Int = 3, worst: Boolean = false): DataFrame = {
    val perDeck = battles
      .select(explode(array(
        struct(array_sort(col("my_cards")).as("deck"), col("result")),
        struct(array_sort(col("opp_cards")).as("deck"), Wld.flip(col("result")).as("result")))).as("p"))
      .select(col("p.deck").as("deck"), col("p.result").as("result"))
      .groupBy(col("deck"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .filter(col("games") >= minGames)
      .withColumn("win_rate", Wld.winRate)
    if (worst) perDeck.orderBy(col("win_rate").asc, col("games").asc, col("deck").desc)
    else perDeck.orderBy(col("win_rate").desc, col("games").desc, col("deck"))
  }

  /** build_user_summary_table (user_workflow.py:39-43): summary →
    * {metric, value} rows, one per summary column, sorted by metric.
    * The unpivot is an explode (a Generate), which keeps its input's
    * partitioning, so a single-partition input sorts in place; Spark's
    * `unpivot` plans an Expand, which does not, and the sort would add
    * an exchange. `stack` keeps the partitioning too, but types
    * `metric` nullable. */
  def summaryTable(battles: DataFrame): DataFrame =
    computeSummary(battles)
      .select(explode(array(Seq("games", "wins", "losses", "draws", "win_rate").map(m =>
        struct(lit(m).as("metric"), col(m).cast("double").as("value"))): _*)).as("p"))
      .select(col("p.metric"), col("p.value"))
      .orderBy(col("metric"))
}
