package graft.battle

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Card-metadata maintenance (update_cardsdata.py:30-54): merge freshly
  * fetched card stats into the existing metadata dimension by name.
  * The reference overwrites a card's elixir with the fetched value
  * whenever the card appears in the fetch — even if the fetched cost is
  * null (`c["elixir"] = elixir_lookup[name]`, update_cardsdata.py:46-47)
  * — so the fetched side wins on presence, not on non-nullness.
  * Appending cards only seen in the fetch (with default flags) is an
  * intentional extension over the reference, which drops them. */
object CardMetadataOps {

  def backfill(existing: DataFrame, fetched: DataFrame): DataFrame = {
    val f = fetched.select(
      col("name"),
      col("id").as("f_id"),
      col("maxLevel").as("f_maxLevel"),
      col("elixir").as("f_elixir"),
      lit(true).as("f_present"))
    existing.join(f, Seq("name"), "full_outer")
      .select(
        coalesce(col("id"), col("f_id")).as("id"),
        col("name"),
        coalesce(col("maxLevel"), col("f_maxLevel")).as("maxLevel"),
        // fetched-presence precedence, NOT coalesce: a card in the fetch
        // takes the fetched elixir even when that value is null
        when(coalesce(col("f_present"), lit(false)), col("f_elixir"))
          .otherwise(col("elixir")).as("elixir"),
        coalesce(col("is_big_tank"), lit(false)).as("is_big_tank"),
        coalesce(col("is_bait_piece"), lit(false)).as("is_bait_piece"),
        coalesce(col("is_bridge_spam_piece"), lit(false)).as("is_bridge_spam_piece"))
  }
}
