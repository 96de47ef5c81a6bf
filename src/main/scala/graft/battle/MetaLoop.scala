package graft.battle

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Phase 0 accumulate-until-converged loop
  * (src/workflows/meta_workflow.py:294-464): deterministic driver-side
  * control flow AROUND queries, not a query (SURVEY §2.9).
  *
  * Each iteration unions a new batch of normalized+classified battles
  * into an accumulating DataFrame and evaluates the convergence
  * predicate with a single action. The accumulator is materialized and
  * the lineage cut per iteration (localCheckpoint) — at scale an
  * ever-growing union lineage would otherwise re-read every historical
  * batch on every action. A superseded accumulator's checkpoint blocks
  * are freed by ContextCleaner once nothing references it
  * (`Dataset.unpersist` would not free them: it only drops
  * CacheManager entries, and a checkpointed frame has none).
  */
object MetaLoop {

  final case class Result(
      battles: DataFrame,
      converged: Boolean,
      loops: Int,
      totalBattles: Long,
      typeCounts: Map[String, Long])

  /** @param batches  iterator of normalized battle batches with
    *                 my_deck_type/opp_deck_type attached (the analogue of
    *                 per-loop player fetches; empty iterator exhaustion ==
    *                 "players exhausted")
    * @param maxLoops loop-count stop guard (meta_workflow.py:443: 20)
    */
  def run(
      spark: SparkSession,
      batches: Iterator[DataFrame],
      minTotal: Long = 2000L,
      minPerType: Long = 200L,
      maxLoops: Int = 20): Result = {
    var acc: Option[DataFrame] = None
    var loops = 0
    var converged = false
    var total = 0L
    var counts = Map.empty[String, Long]
    while (!converged && loops < maxLoops && batches.hasNext) {
      loops += 1
      val batch = batches.next()
      val unioned = acc.map(_.unionByName(batch)).getOrElse(batch)
      val materialized = unioned.localCheckpoint(true)
      acc = Some(materialized)
      val (ok, t, c) = MetaAnalytics.convergenceCheck(spark, materialized, minTotal, minPerType)
      converged = ok; total = t; counts = c
    }
    Result(acc.getOrElse(spark.emptyDataFrame), converged, loops, total, counts)
  }
}
