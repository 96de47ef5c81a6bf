package perfbench

import scala.util.Random

import graft.battle.{BattleFixtures, DeckType}
import graft.sources.RestBattleSource

/** A seeded ranked ladder for the coach workload: leaderboard players,
  * each with a battle log built from the `BattleFixtures` card dimension.
  * Decks are the fixture archetype decks with random card substitutions;
  * crowns are random. About one battle in ten is one `Normalize` drops
  * (2v2, a non-ranked mode, a deck short of 8 named cards, or no game
  * mode at all), and a few more carry a null mode name, which Normalize
  * keeps by falling back to the battle type.
  *
  * The generator also knows the true answers the coach check compares
  * against: each tag's count of valid ranked games, and the Phase 0
  * convergence outcome of the salted cohort sampler. */
final case class Ladder(tags: IndexedSeq[String], logs: Map[String, IndexedSeq[Ladder.Battle]]) {
  import Ladder._

  /** Path → body map for `FixtureRestClient`. */
  def fixtures(topLimit: Int): Map[String, String] = {
    val board = tags.zipWithIndex.map { case (t, i) =>
      s"""{"tag":${Json.str(t)},"name":"player$i","rank":${i + 1},"eloRating":${3000 - i}}"""
    }.mkString("""{"items":[""", ",", "]}")
    Map(RestBattleSource.leaderboardPath(topLimit) -> board) ++
      tags.map(t => RestBattleSource.battlelogPath(t) -> logs(t).map(_.json).mkString("[", ",", "]"))
  }

  def validGames(tag: String): Int = logs(tag).count(_.valid)

  /** What `MetaWorkflow.runFromSource` must report: replays its cohort
    * sampler (md5(salt + tag) order, exact k, no tag reused) and its
    * convergence rule with the pure-Scala deck classifier. */
  def expectedMeta(cohortK: Int, minTotal: Long, minPerType: Long, maxLoops: Int): (Boolean, Int, Long) = {
    var used = Set.empty[String]
    var loops = 0
    var converged = false
    var total = 0L
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    while (!converged && loops < maxLoops) {
      loops += 1
      val salt = s"loop$loops"
      val cohort = tags.filterNot(used).sortBy(t => (md5Hex(salt + t), t)).take(cohortK)
      used ++= cohort
      for (t <- cohort; b <- logs(t) if b.valid) {
        total += 1
        counts(DeckType.classifyDeck(b.team.head.names, BattleFixtures.metaByName)) += 1
        counts(DeckType.classifyDeck(b.opponent.head.names, BattleFixtures.metaByName)) += 1
      }
      converged = total >= minTotal && DeckType.RequiredArchetypes.forall(counts(_) >= minPerType)
    }
    (converged, loops, total)
  }
}

object Ladder {
  private val TagChars = "0289PYLQGRJCUV"
  private val Ranked = Seq(72000006L -> ("PvP", "Ladder"), 72000464L -> ("pathOfLegend", "Ranked1v1"))
  private val Decks = Seq(BattleFixtures.siegeDeck, BattleFixtures.baitDeck, BattleFixtures.cycleDeck,
    BattleFixtures.bridgeDeck, BattleFixtures.beatdownDeck, BattleFixtures.hybridDeck,
    BattleFixtures.mirrorDeck)
  private val AllCards = BattleFixtures.cardMeta.map(_.name)

  final case class Side(tag: String, crowns: Int, cards: Seq[String]) {
    def names: Seq[String] = cards.filter(c => c != null && c.trim.nonEmpty).map(_.trim)
    def json: String =
      s"""{"tag":${Json.str(tag)},"crowns":$crowns,"cards":""" +
        cards.map(c => s"""{"name":${Json.str(c)}}""").mkString("[", ",", "]}")
  }

  /** `mode` None = no gameMode object; name None = null mode name. */
  final case class Battle(time: String, typ: String, mode: Option[(Long, Option[String])],
      team: Seq[Side], opponent: Seq[Side]) {
    def valid: Boolean =
      team.size == 1 && opponent.size == 1 &&
        mode.exists(m => Ranked.exists(_._1 == m._1)) &&
        team.head.names.size == 8 && opponent.head.names.size == 8
    def json: String = {
      val gm = mode.map { case (id, name) => s"""{"id":$id,"name":${Json.str(name.orNull)}}""" }
        .getOrElse("null")
      s"""{"battleTime":${Json.str(time)},"type":${Json.str(typ)},"gameMode":$gm,""" +
        s""""team":${team.map(_.json).mkString("[", ",", "]")},""" +
        s""""opponent":${opponent.map(_.json).mkString("[", ",", "]")}}"""
    }
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def generate(seed: Long, players: Int, battlesPerPlayer: Int): Ladder = {
    val rnd = new Random(seed)
    def tag(): String = "#" + Seq.fill(9)(TagChars(rnd.nextInt(TagChars.length))).mkString
    def deck(base: Seq[String]): Seq[String] =
      if (rnd.nextDouble() >= 0.35) base
      else {
        val sub = rnd.shuffle(AllCards.filterNot(base.contains)).head
        base.updated(rnd.nextInt(base.size), sub)
      }
    val tags = Iterator.continually(tag()).distinct.take(players).toIndexedSeq
    val logs = tags.map { t =>
      val favourite = Decks(rnd.nextInt(Decks.size))
      t -> (0 until battlesPerPlayer).map { i =>
        val (modeId, (typ, modeName)) = Ranked(rnd.nextInt(Ranked.size))
        val me = Side(t, rnd.nextInt(4), deck(favourite))
        val opp = Side(tag(), rnd.nextInt(4), deck(Decks(rnd.nextInt(Decks.size))))
        val time = f"202512${28 - i % 28}%02dT${23 - i % 24}%02d${rnd.nextInt(60)}%02d00.000Z"
        val base = Battle(time, typ, Some((modeId, Some(modeName))), Seq(me), Seq(opp))
        rnd.nextInt(100) match {
          case u if u < 3 => base.copy(typ = "teamVsTeam", team = Seq(me, me.copy(tag = tag())))
          case u if u < 6 => base.copy(typ = "challenge", mode = Some((99000001L, Some("Challenge"))))
          case u if u < 8 => base.copy(team = Seq(me.copy(cards = me.cards.take(7))))
          case u if u < 9 => base.copy(team = Seq(me.copy(cards = me.cards.take(6) ++ Seq("", null))))
          case u if u < 10 => base.copy(mode = None)
          case u if u < 13 => base.copy(mode = Some((modeId, None)))
          case _ => base
        }
      }
    }.toMap
    Ladder(tags, logs)
  }
}
