package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's single most repeated aggregation kernel: group → count
  * games → conditional win/loss/draw counts → win_rate = wins/games.
  * (reference: src/analytics/user_analytics.py:210-234 and ≥10 other call
  * sites, see SURVEY.md §2.5). Draws are the `else` branch — anything that
  * is neither "win" nor "loss" counts as a draw, mirroring
  * src/analytics/deck_type.py:256-269.
  *
  * Expressed as built-in `sum(when(...))` so Catalyst plans a partial+final
  * hash aggregate with map-side combine — at 100 TB only the per-group
  * partial counts shuffle, never the rows.
  */
object Wld {

  /** Aggregate columns over a result column ("win"/"loss"/anything-else). */
  def counts(result: Column): Seq[Column] = Seq(
    count(lit(1)).as("games"),
    sum(when(result === "win", 1L).otherwise(0L)).as("wins"),
    sum(when(result === "loss", 1L).otherwise(0L)).as("losses"),
    sum(when(result === "win" || result === "loss", 0L).otherwise(1L)).as("draws"),
  )

  /** win_rate = wins/games rounded for cross-engine hash stability.
    * Draws count in the denominator but not the numerator
    * (user_analytics.py:224-226); a zero-games group rates 0.0
    * (user_analytics.py:213-220). */
  def winRate: Column =
    when(col("games") === 0L, lit(0.0))
      .otherwise(Det.rate(col("wins").cast("double") / col("games"))).as("win_rate")

  /** POV swap: win↔loss, draw fixed (meta_analytics.py:32-38). */
  def flip(result: Column): Column =
    when(result === "win", "loss").when(result === "loss", "win").otherwise(result)

  /** win_rate → favored/even/unfavored with neutral 0.5 ± 0.05
    * (meta_llm_tables.py:79-90). */
  def advantage(winRate: Column): Column =
    when(winRate >= 0.55, "favored")
      .when(winRate <= 0.45, "unfavored")
      .otherwise("even")
}
