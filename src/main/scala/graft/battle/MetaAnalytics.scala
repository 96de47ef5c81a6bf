package graft.battle

import graft.operators.{Share, Wld}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase 0 global meta analytics (src/analytics/meta_analytics.py,
  * meta_standardize.py, meta_llm_tables.py).
  */
object MetaAnalytics {

  /** build_standardized_meta_table (meta_standardize.py:31-99): one
    * battle → two participant rows (role my/opp; opponent result
    * flipped; is_win derived). Exactly 2 × battles rows. */
  def participantTable(battles: DataFrame): DataFrame =
    battles
      .withColumn("battle_id", monotonically_increasing_id())
      .select(col("battle_id"), explode(array(
        struct(lit("my").as("role"), col("my_deck_type").as("deck_type"), col("result")),
        struct(lit("opp").as("role"), col("opp_deck_type").as("deck_type"),
          Wld.flip(col("result")).as("result")))).as("p"))
      .select(
        col("battle_id"),
        col("p.role").as("role"),
        col("p.deck_type").as("deck_type"),
        col("p.result").as("result"),
        (col("p.result") === "win").as("is_win"))

  /** _build_symmetric_matchup_matrix (meta_analytics.py:41-102): every
    * battle counted once from each POV; single-pass struct explode
    * instead of the reference's self-union. The reference's dead
    * `.where(games>0, 1)` branch (:86) is dropped — unreachable
    * post-groupBy (SURVEY §2.5). */
  def symmetricMatchupMatrix(battles: DataFrame): DataFrame =
    battles
      .select(explode(array(
        struct(col("my_deck_type").as("a"), col("opp_deck_type").as("b"), col("result")),
        struct(col("opp_deck_type").as("a"), col("my_deck_type").as("b"),
          Wld.flip(col("result")).as("result")))).as("p"))
      .select(col("p.a").as("deck_type"), col("p.b").as("opp_type"), col("p.result").as("result"))
      .groupBy(col("deck_type"), col("opp_type"))
      .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
      .withColumn("win_rate", Wld.winRate)

  /** Per-archetype counts with the static archetype domain zero-filled
    * (meta_analytics.py:187-197): right join vs the literal domain. */
  def deckTypeCounts(spark: SparkSession, participants: DataFrame): DataFrame = {
    import spark.implicits._
    val domain = DeckType.Archetypes.toDF("deck_type")
    participants
      .groupBy(col("deck_type")).agg(count(lit(1)).as("n"))
      .join(broadcast(domain), Seq("deck_type"), "right")
      .select(col("deck_type"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("deck_type"))
  }

  /** build_meta_deck_summary (meta_llm_tables.py:8-76): per-archetype
    * WLD + meta_share (share of total participant rows) + sample_ok
    * (games ≥ minGames flag, NOT a filter :73), games desc. */
  def metaDeckSummary(participants: DataFrame, minGames: Int = 200): DataFrame =
    Share.of(
        participants
          .groupBy(col("deck_type"))
          .agg(Wld.counts(col("result")).head, Wld.counts(col("result")).tail: _*)
          .withColumn("win_rate", Wld.winRate),
        "games", "meta_share")
      .withColumn("sample_ok", col("games") >= minGames)
      .orderBy(col("games").desc, col("deck_type"))

  /** build_meta_matchup_summary (meta_llm_tables.py:93-157): flattened
    * matrix, HAVING games ≥ 30, advantage label, games desc. */
  def metaMatchupSummary(matrix: DataFrame, minGames: Int = 30): DataFrame =
    matrix
      .filter(col("games") >= minGames)
      .withColumn("advantage", Wld.advantage(col("win_rate")))
      .orderBy(col("games").desc, col("deck_type"), col("opp_type"))

  /** Convergence predicate of the Phase 0 loop
    * (meta_workflow.py:39-49, 378-464): total battles ≥ minTotal AND
    * every required archetype has my+opp combined count ≥ minPerType.
    * One action computes everything the check needs (SURVEY §3.2: the
    * reference recomputes all analytics per iteration; we compute only
    * the convergence counts). */
  def convergenceCheck(
      spark: SparkSession,
      battles: DataFrame,
      minTotal: Long = 2000L,
      minPerType: Long = 200L): (Boolean, Long, Map[String, Long]) = {
    val participants = participantTable(battles)
    val counts = deckTypeCounts(spark, participants)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum / 2 // 2 participant rows per battle
    val ok = total >= minTotal &&
      DeckType.RequiredArchetypes.forall(t => counts.getOrElse(t, 0L) >= minPerType)
    (ok, total, counts)
  }
}
