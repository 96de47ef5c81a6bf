package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pattern-mining operators over the corpus and its dedup graph:
  *
  *  - q68 skip-gram co-occurrence lift: token-pair association strength
  *    within a ±3-position window (the word2vec/GloVe co-occurrence
  *    shape). Pair generation is a LINEAR higher-order-function pass
  *    over the token array (3 offsets per position, codegen'd) — never
  *    a positional self-join, which would do |doc|² comparisons per
  *    document inside each join group. The association score is the
  *    observed/expected ratio ("lift") rather than log-PMI: identical
  *    ranking (log is monotone) without `ln()` in hashed output, which
  *    is not bit-portable across libm implementations.
  *  - q69 triangle count over the near-dup graph (q26's edge set):
  *    the standard motif signal that near-dup pairs form coherent
  *    clusters rather than chains — high triangle density means CC
  *    clustering (q54) is safe to collapse aggressively.
  *
  * Scale notes (100 TB):
  *  - q68 shuffles (w1, w2, count) partial aggregates — map-side
  *    combine collapses each partition's pairs before exchange; the
  *    unigram/total side is a broadcast (bounded vocabulary; an open
  *    web-scale vocab would switch the two small joins to shuffle
  *    joins on w1/w2 without touching the kernel).
  *  - q69 joins edges-to-edges: the near-dup edge set is orders of
  *    magnitude smaller than the corpus (it is dedup OUTPUT). Edges
  *    are stored lowid→highid, which is exactly the degree-orientation
  *    trick that bounds worklist blowup on hub nodes — each triangle
  *    is enumerated once as (a<b<c), never 6×.
  */
object MiningQueries {

  private val CoWindow = 3
  private val MinPairCount = 5
  private val TopK = 30

  // ---------------------------------------------------------------- q68
  /** Standing skip-gram substrates ([[Artifacts]]): the unigram counts
    * and the df-capped (w1, w2, n_ab) co-occurrence counts are corpus
    * properties (the word2vec/GloVe substrate), both VOCABULARY-scale
    * outputs of full corpus scans. Deriving them inline made q68's
    * warm-100× first-touch ~20 s: the pair scan and the unigram scan
    * are separate AQE stages that race the cold page cache over the
    * same parquet blocks (r13 SCALE.md top candidate). As standing
    * tables, a warm session reads both from memory and q68 is pure
    * bounded-frame arithmetic; `spark.graft.artifacts=off` still builds
    * inline through the identical code below. */
  private[operators] def unigramCounts(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "unigram_counts") {
      Tables.spread(Tables.documents(s, dir), col("doc_id"))
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    }

  private def skipgramPairs(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "skipgram_pairs") {
      // unordered co-occurring pair per (position, offset ≤ 3): linear
      // in tokens, stays inside whole-stage codegen; self-pairs
      // excluded; the ≥ MinPairCount cap bounds the table the same way
      // the posting index's df cap does
      Tables.spread(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        // native skipgram-pair kernel — replaces the filtered
        // CASE/least/greatest HOF cascade, one lambda dispatch per
        // (position, offset) (WordGramsSpec pins equality)
        .select(explode(expr(s"graft_skip_pairs(t, $CoWindow)")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= MinPairCount)
    }

  private def q68(s: SparkSession, dir: String): DataFrame = {
    val uni = unigramCounts(s, dir)
    // total tokens = Σ unigram counts: derived from uni's (vocabulary-
    // scale) output instead of a THIRD full corpus scan — the event
    // log showed three concurrent ~19 s scan jobs at the 100× replica
    // (uni, tot, pairs each re-ran the documents split)
    // coalesce: sum() over zero rows is NULL where the previous
    // count() form returned 0 — keep the empty-corpus semantics
    val tot = uni.agg(coalesce(sum(col("c")), lit(0L)).as("n_total"))
    val pairs = skipgramPairs(s, dir)
    // uni is VOCABULARY-scale (grows ~Heaps' law with the corpus): no
    // unconditional broadcast hint — AQE runtime-broadcasts while it
    // fits and shuffle-joins once the vocabulary outgrows the driver
    pairs
      .join(uni.select(col("tok").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("cb")), Seq("w2"))
      .crossJoin(broadcast(tot))
      // ((double)n_ab * N) / ((double)ca * cb): every product < 2^53 so
      // both engines compute identical doubles (see Det scaladoc)
      .withColumn("lift", Det.rate(
        col("n_ab").cast("double") * col("n_total") /
          (col("ca").cast("double") * col("cb"))))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(TopK)
      .select(col("w1"), col("w2"), col("n_ab"), col("lift"))
  }

  private val q68Sql =
    s"""WITH tk AS (
       |  SELECT doc_id, p, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS p
       |    FROM documents)
       |),
       |uni AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
       |tot AS (SELECT count(*) AS n FROM tk),
       |pr AS (
       |  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2, count(*) AS cab
       |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND $CoWindow
       |  WHERE a.tok <> b.tok
       |  GROUP BY 1, 2
       |)
       |SELECT w1, w2, CAST(cab AS BIGINT) AS n_ab,
       |       floor(CAST(cab AS DOUBLE) * (SELECT n FROM tot)
       |             / (CAST(ua.c AS DOUBLE) * ub.c) * 1e6 + 0.5) / 1e6 AS lift
       |FROM pr JOIN uni ua ON ua.tok = w1 JOIN uni ub ON ub.tok = w2
       |WHERE cab >= $MinPairCount
       |ORDER BY lift DESC, w1, w2 LIMIT $TopK""".stripMargin

  // ---------------------------------------------------------------- q69
  private def q69(s: SparkSession, dir: String): DataFrame = {
    // RDD re-wrap truncates the kernel lineage so the optimizer sees a
    // leaf, not three embedded copies of the shingle/pair plan (same
    // rationale as pageRank below)
    val raw = DedupQueries.jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val e = s.createDataFrame(raw.rdd, raw.schema).persist()
    e.count() // two triangle-join scans + the node explode race a cold cache
    val tri = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(e.select(col("doc_a").as("b2"), col("doc_b").as("c")), col("b") === col("b2"))
      .join(e.select(col("doc_a").as("a3"), col("doc_b").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
      .persist()
    tri.count()
    tri.agg(count(lit(1)).as("triangles"))
      .crossJoin(
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("x"))
          .agg(countDistinct(col("x")).as("tri_nodes")))
  }

  /** Shared oracle CTE chain: shingles → rare-shingle inverted index →
    * Jaccard-thresholded near-dup edge set `e(doc_a < doc_b)` — the
    * SQL twin of [[DedupQueries.jaccardPairs]]. */
  private[operators] val neardupEdgeCtes =
    s"""sh AS (${DedupQueries.shinglesSql}),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |e AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |)""".stripMargin

  private val q69Sql =
    s"""WITH $neardupEdgeCtes,
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM e e1 JOIN e e2 ON e2.doc_a = e1.doc_b
       |            JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
       |)
       |SELECT CAST((SELECT count(*) FROM tri) AS BIGINT) AS triangles,
       |       CAST(count(DISTINCT x) AS BIGINT) AS tri_nodes
       |FROM (SELECT a AS x FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)""".stripMargin

  // ---------------------------------------------------------------- q80
  /** PageRank (5 damped iterations, d = 0.85) over the undirected
    * near-dup graph — ranks the "hub" documents whose removal breaks
    * the most duplication mass, the priority order a curation pass
    * deletes in. All arithmetic is 64-bit integer fixed-point (ranks
    * scaled by 1e12; per-edge contribution `r div deg`, damping
    * `(85·Σ) div 100`) so five chained divisions stay bit-identical in
    * both engines — double division truncation is NOT portable once
    * quotients exceed 2^53/deg, and `ln`-free integer fixed-point is
    * this repo's standing rule for iterative numerics. The oracle
    * unrolls the five iterations as chained CTEs — no recursive-CTE
    * aggregation semantics to depend on.
    *
    * Scale notes (100 TB): the edge list is dedup OUTPUT (orders of
    * magnitude smaller than the corpus). Each iteration is one
    * shuffle: ranks⋈edges on src (co-partitioned by the same key every
    * round) then a map-side-combined sum by dst. Degree rides along
    * the persisted edge frame so it is computed once. Five iterations
    * = five stages over a persisted edge table; the DataFrame lineage
    * stays LINEAR in rounds (each rank frame is referenced exactly
    * once by the next), so no checkpoint is needed at this depth —
    * the >20-round regime is ConnectedComponents.runStars territory.
    */
  private val PrIters = 5
  private val PrScale = 1000000000000L // fixed-point 1e12

  /** Fixed-point PageRank kernel over an undirected edge list
    * `und(src, dst)` (both directions present). Returns (node, r) for
    * every node with ≥ 1 edge; r is the 1e12-scaled integer rank. */
  private[operators] def pageRank(und: DataFrame, iters: Int = PrIters): DataFrame = {
    // Truncate the incoming lineage before looping: the edge frame's
    // logical plan (for q80, TWO copies of the whole shingle/pair
    // kernel) would otherwise be re-embedded at every reference in
    // every unrolled iteration — ~40 copies of the kernel subtree for
    // the optimizer to chew through. persist() does NOT truncate the
    // logical plan; re-wrapping through the RDD does. The re-wrapped
    // frame is persisted in the SQL cache (clearCache-hygienic, no raw
    // RDD persist to leak).
    val cached = und.sparkSession.createDataFrame(und.rdd, und.schema).persist()
    // deg is NODE-scale (one row per vertex — corpus-sized for q80's
    // doc graph), so it joins unhinted: AQE broadcasts while small,
    // shuffles at scale. Without the broadcast build serializing the
    // consumers, the join's two scans race the cold cache — settle it
    // eagerly (the cold-cache-race rule in ConnectedComponents).
    cached.count()
    val deg = cached.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edges = cached.join(deg, Seq("src")).persist()
    var ranks = deg.select(col("src").as("node")).withColumn("r", lit(PrScale))
    for (_ <- 1 to iters) {
      // an undirected node always has ≥1 incoming edge, so the groupBy
      // key set IS the node set — no nodes-side left join needed (the
      // oracle's LEFT JOIN + COALESCE form is value-identical; this
      // form is one join + one aggregate per round instead of two joins)
      ranks = ranks
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
        .select(col("dst").as("node"),
          (lit(PrScale * 15 / 100) + expr("(85 * in_sum) div 100")).as("r"))
    }
    ranks
  }

  private def q80(s: SparkSession, dir: String): DataFrame = {
    val e = DedupQueries.jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val und = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    pageRank(und)
      .orderBy(col("r").desc, col("node")).limit(20)
      .select(col("node"), col("r"))
  }

  private val q80Sql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node,
         |         CAST(${PrScale * 15 / 100} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT u.dst AS node, sum(p.r // d.deg) AS s
         |    FROM $prev p JOIN und u ON u.src = p.node JOIN deg d ON d.src = p.node
         |    GROUP BY u.dst) s ON s.node = n.node
         |)""".stripMargin
    val iters = (1 to PrIters)
      .map(i => iter(if (i == 1) "r0" else s"i${i - 1}", s"i$i"))
      .mkString(",\n")
    s"""WITH $neardupEdgeCtes,
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM e
       |        UNION ALL SELECT doc_b, doc_a FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |nodes AS (SELECT src AS node FROM deg),
       |r0 AS (SELECT node, CAST($PrScale AS BIGINT) AS r FROM nodes),
       |$iters
       |SELECT node, r FROM i$PrIters ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q68_cooccurrence_lift", Some(q68Sql), q68),
    QuerySpec("q69_triangle_count", Some(q69Sql), q69),
    QuerySpec("q80_pagerank_neardup", Some(q80Sql), q80),
  )
}
