package graft.battle

import graft.SparkSpec

class DeckTypeSpec extends SparkSpec {

  private val meta = BattleFixtures.metaByName
  import BattleFixtures._

  test("tier-1 cascade covers every branch") {
    assert(DeckType.classifyDeck(siegeDeck, meta) === "Siege")
    assert(DeckType.classifyDeck(baitDeck, meta) === "Bait")
    assert(DeckType.classifyDeck(cycleDeck, meta) === "Cycle")
    assert(DeckType.classifyDeck(bridgeDeck, meta) === "Bridge Spam")
    assert(DeckType.classifyDeck(beatdownDeck, meta) === "Beatdown")
    assert(DeckType.classifyDeck(hybridDeck, meta) === "Hybrid")
  }

  test("empty deck is Hybrid (deck_type.py:97-98)") {
    assert(DeckType.classifyDeck(Nil, meta) === "Hybrid")
  }

  test("Mirror's null elixir contributes 0 to the fixed-8 denominator") {
    // known elixirs sum 33 → avg 33/8 = 4.125 ≥ 3.5, has tank → Beatdown
    assert(DeckType.classifyDeck(mirrorDeck, meta) === "Beatdown")
  }

  test("Siege priority beats an otherwise-Cycle deck") {
    // siegeDeck's 4 cheapest known are 1+2+2+3 = 8 ≤ 9, but X-Bow wins
    assert(DeckType.classifyDeck(siegeDeck, meta) === "Siege")
  }

  test("unknown cards only: defaults avg=3.0 cycle=12.0 → Hybrid") {
    assert(DeckType.classifyDeck(Seq.fill(8)("NotACard"), meta) === "Hybrid")
  }

  test("classification is order-insensitive (property, 100 seeded shuffles)") {
    val decks = Seq(siegeDeck, baitDeck, cycleDeck, bridgeDeck, beatdownDeck, hybridDeck, mirrorDeck)
    for (seed <- 0 until 100; deck <- decks) {
      val shuffled = new scala.util.Random(seed).shuffle(deck)
      assert(DeckType.classifyDeck(shuffled, meta) === DeckType.classifyDeck(deck, meta))
    }
  }

  test("classifyDeck is total over arbitrary card lists (property, seeded)") {
    val pool = BattleFixtures.cardMeta.map(_.name) :+ "Unknown Card"
    for (seed <- 0 until 200) {
      val rnd = new scala.util.Random(seed)
      val cards = Seq.fill(rnd.nextInt(12))(pool(rnd.nextInt(pool.size)))
      assert(DeckType.Archetypes.contains(DeckType.classifyDeck(cards, meta)))
    }
  }

  test("tier-2 relational classifier agrees with tier-1 on all fixture decks") {
    import spark.implicits._
    val fixtureDecks = Seq(siegeDeck, baitDeck, cycleDeck, bridgeDeck, beatdownDeck,
      hybridDeck, mirrorDeck, Seq.empty[String], Seq.fill(8)("NotACard"))
    // plus seeded random decks of 0–11 cards over the fixture pool and an
    // unknown card (duplicates allowed), and a null card array (≡ empty)
    val pool = BattleFixtures.cardMeta.map(_.name) :+ "Unknown Card"
    val rnd = new scala.util.Random(20251201)
    val randomDecks = Seq.fill(5000)(Seq.fill(rnd.nextInt(12))(pool(rnd.nextInt(pool.size))))
    val decks = fixtureDecks ++ randomDecks :+ (null: Seq[String])
    val df = decks.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("deck_id", "cards")
    val out = DeckType.classifyDecks(df, DeckType.cardLookup(BattleFixtures.cardMetaDf(spark)),
      "cards", "deck_type")
      .collect().map(r => r.getAs[Long]("deck_id") -> r.getAs[String]("deck_type")).toMap
    assert(out.size === decks.size)
    decks.zipWithIndex.foreach { case (d, i) =>
      assert(out(i.toLong) === DeckType.classifyDeck(Option(d).getOrElse(Nil), meta), s"deck $i: $d")
    }
  }
}
