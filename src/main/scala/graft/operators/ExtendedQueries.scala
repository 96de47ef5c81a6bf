package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-1 gap fills (COVERAGE.md "known gaps"): relational
  * INTERSECT/EXCEPT, BPE-ish regex tokenization, as-of join,
  * embedding-cosine near-dup, GROUPING SETS, JSON property extraction.
  */
object ExtendedQueries {

  // ---------------------------------------------------------------- q35/q36
  /** Relational INTERSECT ⊕ (SURVEY §2.8): nations having both customers
    * and suppliers. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("k"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("k")))
      .orderBy(col("k"))

  private val q35Sql =
    """SELECT c_nationkey AS k FROM customer
      |INTERSECT
      |SELECT s_nationkey AS k FROM supplier
      |ORDER BY k""".stripMargin

  /** Relational EXCEPT ⊕: nations with customers but no suppliers. */
  private def q36(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("k"))
      .except(Tables.supplier(s, dir).select(col("s_nationkey").as("k")))
      .orderBy(col("k"))

  private val q36Sql =
    """SELECT c_nationkey AS k FROM customer
      |EXCEPT
      |SELECT s_nationkey AS k FROM supplier
      |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- q37
  /** BPE-ish regex tokenizer (north-star "token counting: whitespace +
    * BPE-ish regex"): letter runs / digit runs / single non-alnum
    * symbols, the GPT-2-style split restricted to constructs whose
    * semantics are identical in Java regex (Spark) and RE2 (DuckDB). */
  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Per-doc regex-token counts as a STANDING ARTIFACT — the regex
    * kernel is the single most expensive per-doc map pass at the 100×
    * replica (q37 was the top warm line at ~20 s: the corpus re-ran
    * the extraction every query). One build pass produces the narrow
    * (doc_id, source, n_bpe_tokens, n_uniq_bpe) frame — the
    * [[TextQueries.gramCounts]] / doc_grams8 shape — and consumers
    * read per-doc counts without ever touching `text`. The oracle
    * still re-derives inline (hashes unchanged by construction);
    * ArtifactsSpec pins artifact == fresh build. */
  private[operators] def docTokens(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_tokens")(docTokensBuild(s, dir))

  /** The builder, exposed so the plan spec can pin the one-pass
    * discipline on the BUILD (consumers must be corpus-scan-free). */
  private[operators] def docTokensBuild(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("source"),
        // transform-over-singleton is the `let` idiom (winnow kernel
        // scaladoc): the regex runs ONCE per doc — two bare
        // regexp_extract_all projections would each re-scan the text
        // (CollapseProject inlines per reference), doubling the one
        // kernel this build is made of
        // Spark SQL string literals are backslash-escaping: \s must
        // arrive at the regex engine intact, so the embedded literal
        // doubles it (the DuckDB oracle's dialect does not escape)
        expr(s"""element_at(transform(
           |  array(regexp_extract_all(text, '${BpePattern.replace("\\", "\\\\")}', 0)),
           |  a -> struct(CAST(size(a) AS BIGINT) AS n,
           |              CAST(size(array_distinct(a)) AS BIGINT) AS u)), 1)"""
          .stripMargin).as("s"))
      .select(col("doc_id"), col("source"),
        col("s.n").as("n_bpe_tokens"), col("s.u").as("n_uniq_bpe"))

  private def q37(s: SparkSession, dir: String): DataFrame =
    docTokens(s, dir)
      .select(col("doc_id"), col("n_bpe_tokens"), col("n_uniq_bpe"))
      .orderBy(col("doc_id"))

  private val q37Sql =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens,
       | CAST(len(list_distinct(regexp_extract_all(text, '$BpePattern'))) AS BIGINT) AS n_uniq_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** As-of join ⊕: for every 'error' event, the most recent 'click' by
    * the same user at or before it. Spark side uses the scalable as-of
    * pattern — union both streams, ONE sort per user, carry the last
    * click forward with a running window — no join at all (a join-based
    * as-of would shuffle both sides and explode on range match; this is
    * a single shuffle + sort). Clicks are deduped per (user, ts) so the
    * as-of key is unique and tie-independent. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts")).distinct()
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        lit(null).cast("long").as("error_event_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        col("event_id").as("error_event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(errors)
      .withColumn("asof_ts", last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("user_id"), col("error_event_id"),
        unix_millis(col("asof_ts")).as("asof_click_ms"))
      .orderBy(col("user_id"), col("error_event_id"))
  }

  private val q38Sql =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |     u AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error')
      |SELECT u.user_id, u.event_id AS error_event_id, epoch_ms(max(c.ts)) AS asof_click_ms
      |FROM u LEFT JOIN c ON c.user_id = u.user_id AND c.ts <= u.ts
      |GROUP BY u.user_id, u.event_id
      |ORDER BY u.user_id, error_event_id""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Embedding-cosine near-dup ⊕ (dedup north-star), IVF-cell-bounded.
    *
    * Round 1 shipped this as exact all-pairs (a BroadcastNestedLoopJoin,
    * quadratic); rounds 2–9 as a 16-table × 12-plane sign-LSH prefilter.
    * The LSH form's scale flaw is structural: with B fixed, RANDOM
    * bucket collisions contribute ~L·N²/2^B candidate pairs — negligible
    * at test scale but the dominant term past ~10⁶ vectors (measured
    * 78–132 s at the 100× replica, the warm sweep's largest residual),
    * and B must grow ~log₂N to fix it, which kills recall at fixed L.
    * The registered form is now the same candidate geometry production
    * embedding-dedup uses (SemDeDup, q72): the standing IVF index's
    * k-means cells (K = √N/4 growing with the corpus — IvfQueries.kFor)
    * bound the pair join to within-cell candidates, N²/K per cell ⇒
    * N^1.5 total, shared with q42/q72/q123/q157 through the `ivf_index`
    * standing artifact. Candidates are exact-cosine verified and the
    * top-20 most-similar pairs (sim ≥ 0.3 floor) reported — the
    * dedup-review workflow, unchanged.
    *
    * Oracle: the shared ivfPrefixSql (seed → 2 Lloyd iterations →
    * assignments, every ranking similarity pre-rounded to 1e-6) + the
    * same within-cell pair CTE — deterministic on both engines. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val (assigned, _) = IvfQueries.index(s, dir)
    // (round 15) no count() race guard: ivf_assigned is eagerly
    // materialized at build — see the q72 note in IvfQueries
    // FUSED PAIR KERNEL (round 15 — guide §2.3/§2.4; the q157/q72
    // graft_cell_knn/graft_cell_dups rationale verbatim): the
    // within-cell self-join shuffled the member set twice and
    // assembled a two-vector row per pair before the cosine; the
    // kernel collects each cell's members once and runs the identical
    // i<j µ-rounded-cosine loop over flat arrays, keeping only the
    // cell's top-20 qualifying pairs under the query's own total
    // order (sim DESC, vec_a, vec_b) — per-cell top-k under a strict
    // total order preserves the global LIMIT 20 exactly, and
    // CellPairsSpec pins kernel == join form. Fallback-threshold
    // note: see q157's QuerySpec (cells-per-task must fit the
    // object-agg hash map).
    assigned
      .groupBy(col("cell"))
      .agg(expr("graft_cell_top_pairs(vec_id, v, nrm, CAST(0.3 AS DOUBLE), 20)").as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("p.sim").as("sim"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  private val q39Sql: String =
    s"""${IvfQueries.ivfPrefixSql},
       |p AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${IvfQueries.sim("a.v", "a.nrm", "b.v", "b.nrm")} AS sim
       |  FROM asgf a JOIN asgf b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)
       |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.3
       |ORDER BY sim DESC, vec_a, vec_b LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q40
  /** GROUPING SETS ⊕ (beyond rollup/cube): independent per-dimension
    * subtotals + grand total. Dataset API exposes only rollup/cube, so
    * this goes through spark.sql — the same Catalyst Aggregate(Expand)
    * plan. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_gs")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS n
        |FROM li_gs GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  private val q40Sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
      | count(*) AS n
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin

  // ---------------------------------------------------------------- q41
  /** JSON property extraction from events.props (FIXTURES.md §2.1):
    * from_json with a declared schema (Spark-first; no schema inference
    * at scale), aggregated per event type. */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        Det.rnd(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  private val q41Sql =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      | floor((avg(CAST(props->>'$.k' AS BIGINT))) * 1e4 + 0.5) / 1e4 AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q35_intersect", Some(q35Sql), q35),
    QuerySpec("q36_except", Some(q36Sql), q36),
    QuerySpec("q37_bpe_tokens", Some(q37Sql), q37),
    QuerySpec("q38_asof_join", Some(q38Sql), q38),
    QuerySpec("q39_cosine_neardup", Some(q39Sql), q39,
      // graft_cell_top_pairs cells-per-task must fit the object-agg
      // hash map (the q157/q72 rule; buffers are input-bounded)
      confs = Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 20).toString)),
    QuerySpec("q40_grouping_sets", Some(q40Sql), q40),
    QuerySpec("q41_json_extract", Some(q41Sql), q41),
  )
}
