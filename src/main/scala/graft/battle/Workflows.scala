package graft.battle

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workflow-level entry points — the engine-side equivalents of the
  * reference's LangGraph graph builders (langgraph.json →
  * build_user_analytics_graph / build_meta_graph). A reference user
  * calls one function and gets every table that workflow produced.
  */
object UserWorkflow {

  /** All Phase 1 outputs (user_workflow.py:370-400 fan-out +
    * build_user_llm_tables_node :323-363) over one player's classified
    * battle log, held as a single-partition local relation
    * ([[normalized]]). Every table is a `lazy val`: it is analyzed on
    * its first read, so a coach session builds only the tables it
    * renders, and no table plans an exchange (the input reports
    * `SinglePartition`, so per-player group-bys and sorts run in
    * place). */
  final class UserTables private[UserWorkflow] (
      val normalized: DataFrame,
      private[battle] val games: Long) {

    lazy val summary: DataFrame = UserAnalytics.computeSummary(normalized)
    lazy val summaryTable: DataFrame = UserAnalytics.summaryTable(normalized)
    lazy val deckTypeSummary: DataFrame = UserAnalytics.summarizeDeckTypes(normalized)
    lazy val deckTypeMatchups: DataFrame = UserAnalytics.deckTypeMatchups(normalized)
    lazy val userDeckMatchups: DataFrame =
      UserAnalytics.userDeckMatchups(normalized.sparkSession, normalized)
    lazy val cardBest: DataFrame = UserAnalytics.cardPerformance(normalized)
    lazy val cardWorst: DataFrame = UserAnalytics.cardPerformance(normalized, worst = true)
    lazy val deckBest: DataFrame = UserAnalytics.deckPerformance(normalized)
    lazy val deckWorst: DataFrame = UserAnalytics.deckPerformance(normalized, worst = true)

    /** The player's four Phase 2 context tables by [[QnaRouter]] name,
      * each rendered on its first use and then reused by every answer
      * over these tables (build_user_llm_tables_node computes them
      * once, user_workflow.py:323-363). */
    private[battle] val contextRows = new ContextRows(Map(
      "user_summary" -> (() => summaryTable),
      "user_deck_summary" -> (() => deckTypeSummary),
      "user_matchups" -> (() => deckTypeMatchups),
      "card_performance" -> (() => cardBest)))
  }

  /** raw battle-log DataFrame (BattleSchema.raw) → normalize → classify
    * both sides through `lookup` ([[DeckType.cardLookup]]) → collect
    * once → a `coalesce(1)` local relation that every table reads
    * (mirrors the reference computing all analytics from one
    * normalized list, user_workflow.py:265-290).
    *
    * One player's log is one API page (the battlelog endpoint returns
    * the player's ~25 most recent battles, battles.py:20-44), so the
    * driver holds it whole. The tables then carry no fetch or
    * classification lineage: each runs as one job over the collected
    * rows, and [[UserTables.games]] is the collected row count.
    * `normalized` is not cached, so `normalized.unpersist()` is a
    * no-op. */
  def run(spark: SparkSession, rawBattles: DataFrame, lookup: Column): UserTables = {
    val classified = DeckType.classifyBattles(Normalize(rawBattles), lookup)
    val rows = classified.collect()
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), classified.schema)
    new UserTables(local.coalesce(1), rows.length.toLong)
  }
}

object MetaWorkflow {

  /** All Phase 0 outputs (meta_workflow.py:715-774 post-loop pipeline). */
  final case class MetaTables(
      battles: DataFrame,
      participants: DataFrame,
      matrix: DataFrame,
      deckSummary: DataFrame,
      matchupSummary: DataFrame,
      deckTypeCounts: DataFrame,
      converged: Boolean,
      loops: Int,
      totalBattles: Long)

  /** Convergence loop over classified-battle batches, then the post-loop
    * aggregation pipeline runs ONCE (the reference recomputes per
    * iteration; SURVEY §3.2 restructures to convergence-counts-only
    * in-loop). */
  def run(
      spark: SparkSession,
      batches: Iterator[DataFrame],
      minTotal: Long = 2000L,
      minPerType: Long = 200L,
      maxLoops: Int = 20,
      summaryMinGames: Int = 200,
      matchupMinGames: Int = 30): MetaTables = {
    val loop = MetaLoop.run(spark, batches, minTotal, minPerType, maxLoops)
    val participants = MetaAnalytics.participantTable(loop.battles).cache()
    val matrix = MetaAnalytics.symmetricMatchupMatrix(loop.battles)
    MetaTables(
      battles = loop.battles,
      participants = participants,
      matrix = matrix,
      deckSummary = MetaAnalytics.metaDeckSummary(participants, summaryMinGames),
      matchupSummary = MetaAnalytics.metaMatchupSummary(matrix, matchupMinGames),
      deckTypeCounts = MetaAnalytics.deckTypeCounts(spark, participants),
      converged = loop.converged,
      loops = loop.loops,
      totalBattles = loop.totalBattles)
  }

  /** Phase 0 END-TO-END from the REST source — the reference's full meta
    * graph including its API nodes (meta_workflow.py:192-207
    * fetch_top_players_node, :217-276 sample_initial/incremental with
    * used-index exclusion, battle-log fetch per cohort): leaderboard →
    * salted exact-k cohort sampling (tags never resampled across loops)
    * → battle-log fetch through the RestClient boundary → normalize →
    * two-sided classification (one projection, card lookup built once
    * for all cohorts) → the convergence loop above.
    *
    * The per-loop cohort collect is bounded by cohortK (50 in the
    * reference) and mirrors its driver-side control flow; battle data
    * itself never leaves executors. */
  def runFromSource(
      spark: SparkSession,
      client: graft.sources.RestClient,
      cardMeta: DataFrame,
      topLimit: Int = 1000,
      cohortK: Int = 50,
      minTotal: Long = 2000L,
      minPerType: Long = 200L,
      maxLoops: Int = 20,
      summaryMinGames: Int = 200,
      matchupMinGames: Int = 30): MetaTables = {
    import graft.sources.RestBattleSource
    val top = RestBattleSource.fetchTopPlayers(spark, client, topLimit)
      .select(col("tag")).cache()
    val lookup = DeckType.cardLookup(cardMeta)
    val batches = new Iterator[DataFrame] {
      private var used: DataFrame = top.limit(0)
      private var loopNo = 0
      override def hasNext: Boolean = true // MetaLoop bounds via maxLoops
      override def next(): DataFrame = {
        loopNo += 1
        val cohort = PlayerSampler.sampleUnused(top, used, cohortK, "tag", s"loop$loopNo")
        val tags = cohort.collect().map(_.getString(0)).toSeq
        used = used.union(cohort)
        DeckType.classifyBattles(Normalize(RestBattleSource.fetchBattles(spark, client, tags)), lookup)
      }
    }
    run(spark, batches, minTotal, minPerType, maxLoops, summaryMinGames, matchupMinGames)
  }
}

/** Exact-k deterministic sampling with used-key exclusion — the Phase 0
  * cohort sampler (src/utils/sampling.py:5-31 + unused-index sampling
  * meta_workflow.py:263-276). The reference's unseeded random.sample is
  * replaced by a salted md5 value-order: pseudo-random, exact-k,
  * engine- and partitioning-independent (Spark's rand(seed) changes
  * with partition layout; df.sample is Bernoulli, not exact-k). */
object PlayerSampler {
  def sampleUnused(
      players: DataFrame,
      used: DataFrame,
      k: Int,
      keyCol: String,
      salt: String): DataFrame =
    players.join(used.select(col(keyCol)), Seq(keyCol), "left_anti")
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))), col(keyCol))
      .limit(k)
}
