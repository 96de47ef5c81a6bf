package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by iterative min-label propagation.
  *
  * Intended use: cluster near-duplicate candidate PAIRS (MinHash/LSH or
  * n-gram Jaccard edges) into dedup groups so each group keeps exactly
  * one canonical document — the step the pairwise dedup operators
  * (q25/q26/q39) stop short of. The reference has no graph machinery at
  * all; this is the standard missing piece of a corpus dedup pipeline.
  *
  * Algorithm: every round, each node offers its current label to its
  * neighbors, then each node keeps the min of its own and all offered
  * labels. Labels only decrease and are bounded below, so Σ labels is a
  * strictly monotone convergence measure — fixpoint when one round
  * leaves it unchanged. The first round is fused into initialization
  * (label(v) = min(v, neighbors(v)) in one aggregation).
  *
  * This is the one operator in the engine that drops to the RDD API —
  * the canonical justified case: an iterative graph algorithm needs a
  * PINNED partitioner across rounds, which DataFrames cannot express.
  * Edges are hash-partitioned by src ONCE and persisted; the label RDD
  * comes out of every `reduceByKey` with the same partitioner, so the
  * per-round `edges ⋈ labels` is NARROW (zero shuffle) and the only
  * shuffle per round is the min-reduce — vs 3 AQE-replanned exchange
  * stages per round for the DataFrame formulation (measured ~3× slower
  * at sf0.1, and the relative gap grows with rounds). Map-side combine
  * in reduceByKey keeps shuffled bytes ≤ one (node, label) pair per
  * node per partition.
  *
  * Scale notes (100 TB):
  *  - Per round: one narrow join + one shuffle of (node, label) pairs;
  *    no text, no edge re-derivation, no driver data path (the
  *    convergence checksum is a single Long).
  *  - Rounds = seeded diameter. Near-dup components are small and
  *    dense (diameter ≲ 5). For adversarially long chains the
  *    O(log n)-round alternating large-star/small-star variant
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    2014) drops in here without changing callers.
  *  - Superseded rounds are unpersisted eagerly; steady-state memory is
  *    the edge RDD plus two label RDDs.
  */
object ConnectedComponents {

  /** @param nodes single column `id`
    * @param edges columns `src`, `dst` — undirected; symmetrized inside,
    *              so pass each pair once in either orientation
    * @return (id, component) where component = min reachable node id
    */
  def run(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    val parts = math.max(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, 1)
    val part = new HashPartitioner(parts)

    val sym: RDD[(Long, Long)] = edges.select(col("src"), col("dst")).rdd
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // neighbor-seeded init: label(v) = min(v, neighbors(v)) — round 1
    // fused into initialization. Seeded from the EDGE SET alone, so only
    // edge-incident nodes ride the loop shuffles; isolated nodes (the
    // vast majority of a deduped corpus) join as self-labels at the end
    // via one anti-join — they never pay a loop round.
    val labels0 = sym
      .map { case (u, v) => (u, math.min(u, v)) }
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def lsum(r: RDD[(Long, Long)]): Long =
      r.aggregate(0L)((a, kv) => a + kv._2, _ + _)

    var cur = labels0
    var curSum = lsum(cur)
    var prevSum = curSum + 1 // force ≥1 confirmation round
    var rounds = 0
    while (curSum != prevSum && rounds < maxRounds) {
      // narrow join: sym and cur share the partitioner — no shuffle here
      val offered = sym.join(cur).map { case (_, (dst, lbl)) => (dst, lbl) }
      val next = cur.union(offered)
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // the round's ONE shuffle
        .persist(StorageLevel.MEMORY_AND_DISK)
      prevSum = curSum
      curSum = lsum(next) // materializes `next` while `cur` is still cached
      cur.unpersist(blocking = false)
      cur = next
      rounds += 1
    }
    // A maxRounds exit without sum-convergence means labels are only
    // partially propagated — silently returning them would hand the
    // caller WRONG components (a chain longer than maxRounds hops).
    // Fail loudly; callers with adversarially deep graphs should raise
    // maxRounds or use the O(log n) star-contraction variant. The throw
    // path must release the persists too: auto()'s fallback and any spec
    // intercepting the throw would otherwise leak block-manager entries
    // (clearCache cannot release raw RDD persists).
    if (curSum != prevSum) {
      sym.unpersist(blocking = false)
      cur.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"requirement failed: ConnectedComponents did not converge in $maxRounds rounds " +
          s"(graph diameter exceeds maxRounds); raise maxRounds")
    }
    // Materialize into the SQL cache and release the RDD persists before
    // returning: callers' cache hygiene is spark.catalog.clearCache(),
    // which clears SQL-cached DataFrames but NOT raw RDD persists — a
    // still-persisted label RDD would leak one block-manager entry per
    // invocation (bench warmup + 3 timed runs + every spec).
    val out = withIsolated(nodes, spark.createDataFrame(
      cur.map { case (id, c) => Row(id, c) },
      StructType(Seq(StructField("id", LongType), StructField("component", LongType)))))
    out.count()
    sym.unpersist(blocking = false)
    cur.unpersist(blocking = false)
    out
  }

  /** Incident labels ∪ self-labels for nodes the edge set never touched,
    * materialized into the SQL cache (callers' hygiene is clearCache,
    * which cannot release raw RDD persists — so the RDDs are retired
    * before run/runStars return). */
  private def withIsolated(nodes: DataFrame, incident: DataFrame): DataFrame = {
    val inc = incident.persist(StorageLevel.MEMORY_AND_DISK)
    inc.count() // cache the RDD conversion once; both consumers below read it
    inc.unionByName(
        nodes.select(col("id")).join(inc.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("component")))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Production entry point: min-label propagation (cheapest for the
    * shallow dense components near-dup graphs actually have), falling
    * back to O(log n) star contraction iff the graph turns out deeper
    * than maxRounds hops. The fallback recomputes from scratch — it is
    * the rare path by construction, and correctness beats the wasted
    * rounds when it fires. */
  def auto(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 20): DataFrame =
    try run(nodes, edges, maxRounds)
    catch {
      case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.contains("did not converge") =>
        runStars(nodes, edges)
    }

  /** Alternating large-star / small-star connected components
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): converges in O(log n) rounds regardless of graph
    * DIAMETER, where min-label propagation ([[run]]) needs diameter
    * rounds. Use this for adversarially deep graphs (long near-dup
    * chains); use [[run]] for the shallow dense components typical of
    * near-dup clusters (fewer rounds, one shuffle per round).
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ u)  — halves the height of tall subtrees.
    *  - small-star(u): u and every neighbor v ≤ u attach to m
    *    — flattens local minima into stars.
    *
    * Both phases only ever emit (child, parent) pairs with
    * parent < child, so the edge set stays oriented hi→lo and the
    * fixpoint is a forest of depth-1 stars rooted at component minima.
    * Each phase is one groupByKey (neighborhoods) + one distinct
    * (edge dedup) — two shuffles of the shrinking edge set, never of
    * node text or payloads. Convergence is detected by an exact edge
    * multiset checksum (count + order-independent hash sum), and
    * non-convergence within maxRounds throws rather than returning
    * partial labels (same contract as [[run]]). */
  def runStars(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val spark = nodes.sparkSession
    val parts = math.max(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, 1)
    val part = new HashPartitioner(parts)

    def canon(e: RDD[(Long, Long)]): RDD[(Long, Long)] = e
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .filter { case (hi, lo) => hi != lo }
      .distinct(parts)

    // (count, unordered hash sum): exact multiset identity for edge sets
    // (sum of per-edge hashes is permutation-invariant; Long overflow is
    // deterministic and harmless for an equality check)
    def checksum(e: RDD[(Long, Long)]): (Long, Long) =
      e.aggregate((0L, 0L))(
        (a, kv) => (a._1 + 1L, a._2 + (kv._1 * 1000003L + kv._2)),
        (a, b) => (a._1 + b._1, a._2 + b._2))

    def neighborhoods(e: RDD[(Long, Long)]) = e
      .flatMap { case (hi, lo) => Seq((hi, lo), (lo, hi)) }
      .groupByKey(part)

    def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      canon(neighborhoods(e).flatMap { case (u, vs) =>
        val m = math.min(u, vs.min)
        vs.iterator.filter(_ > u).map(v => (v, m))
      })

    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      canon(neighborhoods(e).flatMap { case (u, vs) =>
        val m = math.min(u, vs.min)
        vs.iterator.filter(_ <= u).map(v => (v, m)) ++ Iterator((u, m))
      })

    var cur = canon(edges.select(col("src"), col("dst")).rdd
      .map(r => (r.getLong(0), r.getLong(1))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var curSum = checksum(cur)
    var prevSum = (curSum._1 + 1L, curSum._2)
    var rounds = 0
    while (curSum != prevSum && rounds < maxRounds) {
      val next = smallStar(largeStar(cur)).persist(StorageLevel.MEMORY_AND_DISK)
      prevSum = curSum
      curSum = checksum(next) // materializes next while cur is still cached
      cur.unpersist(blocking = false)
      cur = next
      rounds += 1
    }
    if (curSum != prevSum) {
      cur.unpersist(blocking = false) // same throw-path hygiene as run()
      throw new IllegalArgumentException(
        s"requirement failed: star-contraction did not converge in $maxRounds rounds")
    }
    // fixpoint edges are (leaf, root) stars — roots never appear on the
    // hi side, so they self-label explicitly; isolated nodes join at
    // the end like run()
    val labels = cur
      .flatMap { case (leaf, root) => Iterator((leaf, root), (root, root)) }
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
    val out = withIsolated(nodes, spark.createDataFrame(
      labels.map { case (id, c) => Row(id, c) },
      StructType(Seq(StructField("id", LongType), StructField("component", LongType)))))
    out.count()
    cur.unpersist(blocking = false)
    out
  }
}
