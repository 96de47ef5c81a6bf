package graft.sources

import graft.SparkSpec
import graft.battle.{BattleFixtures, MetaWorkflow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** Chart-spec sink: deterministic Vega-Lite JSON for the final small
  * aggregates (plots.py analogue). The meta deck summary chart is pinned
  * to a golden file — byte-identical output run to run. */
class ChartSpecSpec extends SparkSpec {

  private def metaDeckSummary = {
    val batches = Iterator.continually(BattleFixtures.classifiedBattles(spark, 30)).take(10)
    MetaWorkflow.run(spark, batches, minTotal = 100L, minPerType = 20L,
      maxLoops = 10, summaryMinGames = 20, matchupMinGames = 4).deckSummary
  }

  test("meta deck summary bar spec matches the golden file byte-for-byte") {
    val spec = ChartSpec.barSpec(
      metaDeckSummary.select(col("deck_type"), col("games"), col("win_rate")),
      "Meta Deck Types (by Games)", "deck_type", "games")
    val goldenPath = "src/test/resources/golden/meta_deck_summary_chart.json"
    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) ChartSpec.writeChartSpec(spec, goldenPath)
    val golden = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(goldenPath)), "UTF-8")
    assert(spec === golden)
  }

  test("specs are valid JSON with the expected Vega-Lite structure") {
    import spark.implicits._
    val df = Seq(("Cycle", 10L, 0.6), ("Bait", 5L, 0.4)).toDF("deck_type", "games", "win_rate")
    val bar = ChartSpec.barSpec(df, "t", "deck_type", "games")
    val pie = ChartSpec.pieSpec(df, "t", "deck_type", "games")
    // parse with Spark's JSON reader as a validity oracle
    for (s <- Seq(bar, pie)) {
      val parsed = spark.read.json(Seq(s).toDS())
      assert(parsed.columns.contains("mark"))
      assert(!parsed.columns.contains("_corrupt_record"), s"invalid JSON: $s")
    }
    val schema = new StructType()
      .add("title", StringType)
      .add("data", new StructType().add("values",
        ArrayType(new StructType().add("deck_type", StringType))))
    val vals = spark.read.schema(schema).json(Seq(bar).toDS())
      .select(explode(col("data.values.deck_type")).as("d")).collect().map(_.getString(0))
    assert(vals.toSeq === Seq("Cycle", "Bait"))
  }

  test("writeChartSpec writes the file (round trip)") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("k", "v")
    val path = tempDir("chartspec") + "/out/c.json"
    ChartSpec.writeChartSpec(ChartSpec.barSpec(df, "t", "k", "v"), path)
    val back = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    assert(back.contains("vega-lite/v5.json"))
    assert(back.contains("\"k\": \"a\""))
  }
}
