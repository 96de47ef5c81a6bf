package graft.operators

import graft.SparkSpec
import graft.battle.BattleFixtures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Wld]]'s counts and win rate, pinned against a driver-side fold. */
class WldSpec extends SparkSpec {

  private def wld(df: DataFrame, keys: String*): DataFrame = {
    val cs = Wld.counts(col("result"))
    df.groupBy(keys.map(col): _*).agg(cs.head, cs.tail: _*)
      .select(keys.map(col) ++ Seq(col("games"), col("wins"), col("losses"), col("draws"), Wld.winRate): _*)
  }

  test("counts and winRate per group equal a driver-side fold over the same rows") {
    val battles = BattleFixtures.classifiedBattles(spark, 36).select(col("my_deck_type"), col("result"))
    val expected = battles.collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      .groupBy(_._1).map { case (k, rs) =>
        val games = rs.size.toLong
        val wins = rs.count(_._2 == "win").toLong
        val losses = rs.count(_._2 == "loss").toLong
        k -> (games, wins, losses, games - wins - losses,
          math.floor(wins.toDouble / games * 1e6 + 0.5) / 1e6)
      }
    assert(expected.size > 1 && expected.values.exists(_._4 > 0), "fixture must hold several groups and draws")
    val got = wld(battles, "my_deck_type").collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got === expected)
  }

  test("a result that is neither win nor loss is a draw") {
    import spark.implicits._
    val out = wld(Seq("win", "win", "loss", "draw", "other").toDF("result")).head()
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3)) === ((5L, 2L, 1L, 2L)))
    assert(out.getDouble(4) === 0.4)
  }

  test("empty input finishes to zeros") {
    import spark.implicits._
    val empty = wld(Seq.empty[String].toDF("result")).head()
    assert(empty.getLong(0) === 0L)
    assert(empty.getDouble(4) === 0.0)
  }
}
