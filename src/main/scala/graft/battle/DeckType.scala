package graft.battle

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deck archetype classification (src/analytics/deck_type.py:85-152;
  * features :38-82): a priority rule cascade over per-deck features
  * computed from the card-metadata dimension.
  *
  * Two tiers (SURVEY §2.4):
  *  - `classifyDeck`: plain Scala function over a Map — mirrors the
  *    reference exactly. It is the reference the tests compare tier 2
  *    against, and usable as a UDF where a column-level classifier is
  *    convenient.
  *  - `classifyDecks`: one row-level projection over the deck array.
  *    The card dimension (keyed by name) becomes a map literal built
  *    once per workflow call or coach session ([[cardLookup]]); counts,
  *    the elixir sum and the 4-card cycle are higher-order functions
  *    over the looked-up cards; the CASE cascade sits on top. Every
  *    feature comes from the row's own deck, so there is no explode, no
  *    join back and no shuffle: the input plan is read once, and a row
  *    is classified wherever it already is — the scale path for
  *    billions of decks.
  *
  * Semantics preserved from the reference:
  *  - avg elixir = sum(known elixirs) / 8.0 — FIXED denominator 8, null
  *    elixirs contribute 0 (deck_type.py:51-61)
  *  - defaults avg=3.0, cycle=12.0 when no elixir known
  *  - 4-card cycle cost = sum of the 4 cheapest known elixirs
  *  - cascade: Siege (X-Bow or Mortar) → Bait (≥3 bait pieces) →
  *    Cycle (cycle cost ≤ 9) → Bridge Spam (≥2 pieces) → Beatdown
  *    (≥1 big tank AND avg ≥ 3.5) → Hybrid; empty or null deck → Hybrid
  */
object DeckType {

  val Archetypes: Seq[String] =
    Seq("Siege", "Bait", "Cycle", "Bridge Spam", "Beatdown", "Hybrid")

  /** Archetypes that must reach coverage in Phase 0 (Hybrid exempt;
    * meta_workflow.py:42-49). */
  val RequiredArchetypes: Seq[String] =
    Seq("Siege", "Bait", "Cycle", "Bridge Spam", "Beatdown")

  // ------------------------------------------------------------ tier 1
  def classifyDeck(cards: Seq[String], meta: Map[String, CardMeta]): String = {
    if (cards.isEmpty) return "Hybrid"
    val metas = cards.flatMap(meta.get)
    val elixirs = metas.flatMap(_.elixir)
    val avg = if (elixirs.isEmpty) 3.0 else elixirs.sum / 8.0
    val cycle = if (elixirs.isEmpty) 12.0 else elixirs.sorted.take(4).sum.toDouble
    val baitCount = metas.count(_.is_bait_piece)
    val bridgeCount = metas.count(_.is_bridge_spam_piece)
    val tankCount = metas.count(_.is_big_tank)
    if (cards.contains("X-Bow") || cards.contains("Mortar")) "Siege"
    else if (baitCount >= 3) "Bait"
    else if (cycle <= 9) "Cycle"
    else if (bridgeCount >= 2) "Bridge Spam"
    else if (tankCount >= 1 && avg >= 3.5) "Beatdown"
    else "Hybrid"
  }

  // ------------------------------------------------------------ tier 2
  /** The card dimension as a `map<name, struct<elixir, is_big_tank,
    * is_bait_piece, is_bridge_spam_piece>>` literal. Collects the
    * (tiny) dimension once; build it once per workflow call or coach
    * session and pass it to every [[classifyDecks]] there. A null flag
    * counts as false. */
  def cardLookup(cardMeta: DataFrame): Column = {
    val traits = cardMeta
      .select(col("name"), col("elixir").cast("int"),
        col("is_big_tank").cast("boolean"), col("is_bait_piece").cast("boolean"),
        col("is_bridge_spam_piece").cast("boolean"))
      .collect()
      .collect { case r if !r.isNullAt(0) =>
        r.getString(0) -> CardTraits(
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          !r.isNullAt(2) && r.getBoolean(2),
          !r.isNullAt(3) && r.getBoolean(3),
          !r.isNullAt(4) && r.getBoolean(4))
      }
      .toMap
    typedLit(traits)
  }

  /** Archetype of one deck column: the cascade over features computed
    * from the deck's own cards through `lookup` ([[cardLookup]]). */
  private def deckType(cards: Column, lookup: Column): Column = {
    val deck = coalesce(cards, typedLit(Seq.empty[String]))
    val known = filter(transform(deck, c => element_at(lookup, c)), _.isNotNull)
    def count(flag: String): Column = size(filter(known, _.getField(flag)))
    val elixirs = filter(transform(known, _.getField("elixir")), _.isNotNull)
    def total(xs: Column): Column = aggregate(xs, lit(0), _ + _).cast("double")
    val noElixir = size(elixirs) === 0
    val avg = when(noElixir, 3.0).otherwise(total(elixirs) / 8.0)
    val cycle = when(noElixir, 12.0).otherwise(total(slice(array_sort(elixirs), 1, 4)))
    when(array_contains(deck, "X-Bow") || array_contains(deck, "Mortar"), "Siege")
      .when(count("is_bait_piece") >= 3, "Bait")
      .when(cycle <= 9, "Cycle")
      .when(count("is_bridge_spam_piece") >= 2, "Bridge Spam")
      .when(count("is_big_tank") >= 1 && avg >= 3.5, "Beatdown")
      .otherwise("Hybrid")
  }

  /** `df` plus `outCol`, the archetype of the deck in `cardsCol`. */
  def classifyDecks(df: DataFrame, lookup: Column, cardsCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, deckType(col(cardsCol), lookup))

  /** Normalized battles plus `my_deck_type` and `opp_deck_type`. */
  def classifyBattles(battles: DataFrame, lookup: Column): DataFrame =
    classifyDecks(classifyDecks(battles, lookup, "my_cards", "my_deck_type"),
      lookup, "opp_cards", "opp_deck_type")
}

/** The classification-relevant part of a [[CardMeta]] row. */
private[battle] final case class CardTraits(
    elixir: Option[Int],
    is_big_tank: Boolean,
    is_bait_piece: Boolean,
    is_bridge_spam_piece: Boolean)
