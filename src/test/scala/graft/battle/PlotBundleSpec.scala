package graft.battle

import graft.SparkSpec

/** The plot bundle must write the notebook's exact file set
  * (plots.py:144-212 names with the user prefix; meta_workflow.py
  * :640-646 meta names; :176-178 per-deck safe names) — each as a
  * Vega-Lite .json AND a decodable .png. */
class PlotBundleSpec extends SparkSpec {

  private lazy val classified = BattleFixtures.classifiedBattles(spark, 60).cache()

  private def pngOk(path: String): Boolean = {
    val f = new java.io.File(path)
    f.exists() && f.length() > 0 && javax.imageio.ImageIO.read(f) != null
  }

  test("userPlots writes the 7 reference-named files") {
    val dir = tempDir("graft-plots")
    val out = PlotBundle.userPlots(classified, dir)
    val expected = Set("best_cards", "worst_cards", "tough_opp_cards",
      "easy_opp_cards", "my_deck_types_pie", "opp_deck_types_pie",
      "opp_deck_types_bar")
    assert(out.keySet === expected)
    val files = Set("user_best_cards", "user_worst_cards",
      "user_tough_opp_cards", "user_easy_opp_cards", "user_my_deck_types",
      "user_opp_deck_types", "user_opp_deck_types_bar")
    files.foreach { n =>
      assert(pngOk(s"$dir/$n.png"), s"$n.png missing or undecodable")
      assert(new java.io.File(s"$dir/$n.json").length() > 0, s"$n.json missing")
    }
  }

  test("metaPlots writes the meta pair plus one matchup chart per archetype") {
    val dir = tempDir("graft-plots")
    val participants = MetaAnalytics.participantTable(classified)
    val deckSummary = MetaAnalytics.metaDeckSummary(participants, minGames = 10)
    val matrix = MetaAnalytics.symmetricMatchupMatrix(classified)
    val matchups = MetaAnalytics.metaMatchupSummary(matrix, minGames = 1)
    val out = PlotBundle.metaPlots(deckSummary, matchups, dir)
    assert(pngOk(s"$dir/meta_deck_types.png"))
    assert(pngOk(s"$dir/meta_deck_types_winrate.png"))
    val attackers = matchups.select("deck_type").distinct()
      .collect().map(_.getString(0)).toSet
    // every archetype with at least one NON-MIRROR matchup row gets a
    // chart named by the reference's safe-name rule
    val nonMirror = matchups
      .filter(org.apache.spark.sql.functions.expr("deck_type <> opp_type"))
      .select("deck_type").distinct().collect().map(_.getString(0)).toSet
    assert(nonMirror.nonEmpty)
    nonMirror.foreach { a =>
      assert(pngOk(s"$dir/meta_matchups_${PlotBundle.safeName(a)}.png"),
        s"missing per-deck chart for $a")
    }
    assert(out.size === 2 + nonMirror.size)
    // mirror-only archetypes are skipped (reference :136-138)
    (attackers -- nonMirror).foreach { a =>
      assert(!new java.io.File(s"$dir/meta_matchups_${PlotBundle.safeName(a)}.png").exists())
    }
  }

  test("safe names follow the reference rule") {
    assert(PlotBundle.safeName("Bridge Spam") === "bridge_spam")
    assert(PlotBundle.safeName("Cycle") === "cycle")
  }
}
