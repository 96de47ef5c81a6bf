package graft.battle

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic battle-domain fixtures (FIXTURES.md §1). Shapes follow
  * the reference's consumers; decks cover every classification branch
  * (deck_type.py:85-152) including Mirror's null elixir.
  */
object BattleFixtures {

  val cardMeta: Seq[CardMeta] = Seq(
    CardMeta(1, "X-Bow", 14, Some(6), false, false, false),
    CardMeta(2, "Mortar", 14, Some(4), false, false, false),
    CardMeta(3, "Goblin Barrel", 14, Some(3), false, true, false),
    CardMeta(4, "Princess", 14, Some(3), false, true, false),
    CardMeta(5, "Goblin Gang", 14, Some(3), false, true, false),
    CardMeta(6, "Skeleton Army", 14, Some(3), false, true, false),
    CardMeta(7, "Skeletons", 14, Some(1), false, false, false),
    CardMeta(8, "Ice Spirit", 14, Some(1), false, false, false),
    CardMeta(9, "Ice Golem", 14, Some(2), false, false, false),
    CardMeta(10, "Cannon", 14, Some(3), false, false, false),
    CardMeta(11, "The Log", 14, Some(2), false, false, false),
    CardMeta(12, "Musketeer", 14, Some(4), false, false, false),
    CardMeta(13, "Fireball", 14, Some(4), false, false, false),
    CardMeta(14, "Hog Rider", 14, Some(4), false, false, false),
    CardMeta(15, "Battle Ram", 14, Some(4), false, false, true),
    CardMeta(16, "Bandit", 14, Some(3), false, false, true),
    CardMeta(17, "Royal Ghost", 14, Some(3), false, false, true),
    CardMeta(18, "Golem", 14, Some(8), true, false, false),
    CardMeta(19, "Giant", 14, Some(5), true, false, false),
    CardMeta(20, "Lava Hound", 14, Some(7), true, false, false),
    CardMeta(21, "Mirror", 14, None, false, false, false),
    CardMeta(22, "Zap", 14, Some(2), false, false, false),
    CardMeta(23, "Arrows", 14, Some(3), false, false, false),
    CardMeta(24, "Wizard", 14, Some(5), false, false, false),
    CardMeta(25, "Baby Dragon", 14, Some(4), false, false, false),
    CardMeta(26, "Night Witch", 14, Some(4), false, false, false),
    CardMeta(27, "Lightning", 14, Some(6), false, false, false),
    CardMeta(28, "Mega Minion", 14, Some(3), false, false, false),
  )

  val metaByName: Map[String, CardMeta] = cardMeta.map(c => c.name -> c).toMap

  // 8-card decks per archetype branch
  val siegeDeck: Seq[String] = Seq("X-Bow", "Skeletons", "Ice Spirit", "Ice Golem",
    "Cannon", "The Log", "Musketeer", "Fireball") // X-Bow beats the ≤9 cycle cost
  val baitDeck: Seq[String] = Seq("Goblin Barrel", "Princess", "Goblin Gang",
    "Skeleton Army", "The Log", "Ice Spirit", "Musketeer", "Fireball")
  val cycleDeck: Seq[String] = Seq("Skeletons", "Ice Spirit", "Ice Golem", "The Log",
    "Hog Rider", "Musketeer", "Cannon", "Fireball") // 1+1+2+2 = 6 ≤ 9
  val bridgeDeck: Seq[String] = Seq("Battle Ram", "Bandit", "Royal Ghost", "Hog Rider",
    "Zap", "Arrows", "Mega Minion", "Musketeer") // cycle 2+3+3+3=11, no tank
  val beatdownDeck: Seq[String] = Seq("Golem", "Night Witch", "Baby Dragon", "Lightning",
    "Wizard", "Mega Minion", "Arrows", "Lava Hound") // avg (8+4+4+6+5+3+3+7)/8 = 5.0
  val hybridDeck: Seq[String] = Seq("Hog Rider", "Musketeer", "Fireball", "Arrows",
    "Wizard", "Mega Minion", "Baby Dragon", "Lightning") // no flags, cycle 3+3+4+4=14? (3+3+4+4)=14 >9, avg 4.125 no tank
  val mirrorDeck: Seq[String] = Seq("Mirror", "Golem", "Night Witch", "Baby Dragon",
    "Lightning", "Wizard", "Mega Minion", "Arrows") // null elixir: sum known/8 = (8+4+4+6+5+3+3)/8 = 4.125 ≥ 3.5, tank → Beatdown

  def cardMetaDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(cardMeta).toDF()
  }

  /** Deterministic normalized battles (round-robin archetype pairings,
    * results cycling win/loss/draw). */
  def normalizedBattles(spark: SparkSession, n: Int): Seq[NormalizedBattle] = {
    val decks = Seq(siegeDeck, baitDeck, cycleDeck, bridgeDeck, beatdownDeck, hybridDeck)
    (0 until n).map { i =>
      val my = decks(i % decks.size)
      val opp = decks((i / decks.size + i) % decks.size)
      val result = Seq("win", "loss", "draw")(i % 3)
      NormalizedBattle(f"20251201T${i % 24}%02d0000.000Z", result, my, opp, "Ranked1v1")
    }
  }

  def normalizedBattlesDf(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(normalizedBattles(spark, n)).toDF()
  }

  /** Normalized battles with archetypes attached via the relational
    * classifier (tier 2) on both sides. */
  def classifiedBattles(spark: SparkSession, n: Int): DataFrame =
    DeckType.classifyBattles(normalizedBattlesDf(spark, n), DeckType.cardLookup(cardMetaDf(spark)))

  /** Raw battle-log JSON lines covering the reference's edge cases
    * (FIXTURES.md §1.1). */
  val rawBattleJson: Seq[String] = {
    def cards(names: Seq[String]): String =
      names.map(n => s"""{"name": ${if (n == null) "null" else "\"" + n + "\""}}""").mkString("[", ",", "]")
    def battle(time: String, typ: String, modeId: Long, modeName: String,
        myCrowns: Int, oppCrowns: Int, my: Seq[String], opp: Seq[String],
        teamSize: Int = 1): String = {
      val teammate = s"""{"tag": "#T2", "crowns": $myCrowns, "cards": ${cards(my)}}"""
      val team = (s"""{"tag": "#ME", "crowns": $myCrowns, "cards": ${cards(my)}}""" +:
        Seq.fill(teamSize - 1)(teammate)).mkString("[", ",", "]")
      val modeNameJson = if (modeName == null) "null" else "\"" + modeName + "\""
      s"""{"battleTime": "$time", "type": "$typ", "gameMode": {"id": $modeId, "name": $modeNameJson}, "team": $team, "opponent": [{"tag": "#OPP", "crowns": $oppCrowns, "cards": ${cards(opp)}}]}"""
    }
    Seq(
      // 1: ranked ladder win
      battle("20251210T153000.000Z", "PvP", 72000006L, "Ladder", 3, 1, cycleDeck, baitDeck),
      // 2: ranked 1v1 loss
      battle("20251210T154000.000Z", "pathOfLegend", 72000464L, "Ranked1v1", 0, 2, siegeDeck, beatdownDeck),
      // 3: draw (equal crowns)
      battle("20251210T155000.000Z", "PvP", 72000006L, "Ladder", 1, 1, bridgeDeck, hybridDeck),
      // 4: 2v2 — dropped (team size 2)
      battle("20251210T156000.000Z", "teamVsTeam", 72000006L, "Ladder", 2, 1, cycleDeck, baitDeck, teamSize = 2),
      // 5: non-whitelisted mode — dropped
      battle("20251210T157000.000Z", "challenge", 99000001L, "Challenge", 3, 0, cycleDeck, baitDeck),
      // 6: empty/whitespace card names → < 8 cards after cleaning → guard drops
      battle("20251210T158000.000Z", "PvP", 72000006L, "Ladder", 2, 0,
        cycleDeck.take(6) ++ Seq("", "  "), baitDeck),
      // 7: null gameMode.name → mode_name falls back to type
      battle("20251210T159000.000Z", "PvP", 72000006L, null, 0, 3, hybridDeck, beatdownDeck),
      // 8: 7-card deck — guard drops
      battle("20251210T160000.000Z", "PvP", 72000464L, "Ranked1v1", 1, 0, cycleDeck.take(7), baitDeck),
    )
  }

  /** Raw battles as a DataFrame via the JSON source path (exercises
    * spark.read.schema(...).json exactly as ingestion would). */
  def rawBattlesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.read.schema(BattleSchema.raw).json(spark.createDataset(rawBattleJson))
  }
}
