package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-stack operators (the RAG serving path). */
object RetrievalQueries {

  private val TopK = 50    // per-modality retrieved-list depth
  private val RrfK = 60L   // the standard RRF dampening constant
  private val OutK = 20

  // ---------------------------------------------------------------- q94
  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009
    * — the fusion every production RAG stack runs over its lexical +
    * dense retrievers): one query, two rankings, one fused list.
    *
    *  - lexical: BM25 against the fixed query "spark query fast" —
    *    q59's kernel shape (token filter BEFORE the tf shuffle,
    *    RATIONAL idf (N+1)/(df+1) because ln is ulp-unstable across
    *    engines and monotone anyway);
    *  - dense: cosine of every doc's embedding to the query doc's
    *    (vec 0) embedding — q28's rounded-then-ranked rule;
    *  - fusion: per modality take the top-K list (TakeOrdered — heaps,
    *    no global sort), rank WITHIN the retrieved lists, and score
    *    each doc Σ 10⁶ div (60 + rank) over the lists that retrieved
    *    it — integer arithmetic, absent-from-list contributes 0.
    *
    * The query doc itself is excluded from both lists. Ranks are
    * assigned by unpartitioned row_number over the ≤ K-row RETRIEVED
    * lists only — bounded by the limit, never by the corpus (the
    * corpus-scale work is the two TakeOrdered retrievals, which plan
    * per-partition heaps).
    *
    * Scale: modality lists are K rows regardless of corpus size;
    * fusion is a K-row full-outer join + integer sum. The dense side's
    * brute scan is the q28 recall-oracle shape — production swaps in
    * the IVF/LSH candidate generation (q42/q29) unchanged, because
    * fusion only consumes (id, rank). */
  private[operators] def fusedBuild(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "query", "fast")
    // ---- lexical list: BM25 blended score, top-K ----
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
    val g = d.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // dl rides the SAME scan as the token explode (it is functionally
    // determined by doc_id, so adding it to the grouping key is free)
    // instead of joining a broadcast of the corpus-scale per-doc table
    val tf = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-term pivot, then a FIXED-ORDER add before rounding — a bare
    // sum() accumulates in engine-dependent order (the q59 rule)
    val termCols = terms.map(t =>
      coalesce(max(when(col("tok") === t, col("s"))), lit(0.0)).as(s"s_$t"))
    val lexTop = tf
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(g))
      .withColumn("s",
        (col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)) * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(termCols.head, termCols.tail: _*)
      .select(col("doc_id"),
        Det.rate(col("s_spark") + col("s_query") + col("s_fast")).as("lex_score"))
      .filter(col("doc_id") =!= 0L)
      .orderBy(col("lex_score").desc, col("doc_id"))
      .limit(TopK)
    // ---- dense list: cosine to the query doc's embedding, top-K ----
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))
    val qv = base.filter(col("vec_id") === 0L)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val denseTop = base.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Det.rate(VectorMath.cosine("v", "qv", col("nrm"), col("qn"))).as("dense_score"))
      .orderBy(col("dense_score").desc, col("doc_id"))
      .limit(TopK)
    // ---- fuse: rank within each ≤K-row list, RRF-sum ----
    val lexRanked = lexTop.withColumn("lex_rank", row_number()
      .over(Window.orderBy(col("lex_score").desc, col("doc_id"))).cast("long"))
    val denseRanked = denseTop.withColumn("dense_rank", row_number()
      .over(Window.orderBy(col("dense_score").desc, col("doc_id"))).cast("long"))
    lexRanked.join(denseRanked, Seq("doc_id"), "full")
      .select(col("doc_id"),
        (coalesce(expr(s"1000000 div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + dense_rank)"), lit(0L))).as("rrf_score"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(OutK)
  }

  /** The fused RRF list as a STANDING ARTIFACT (an `OutK`-row
    * LocalRelation — bounded by the limit, so consumers pay zero scan
    * jobs): the serving path materializes the fused ranking once and
    * both q94 (the report) and q143 (the context packer) read it,
    * instead of each re-running the two corpus-scale retrievals. The
    * oracle still re-derives everything standalone, so reuse can never
    * mask a wrong result (ArtifactsSpec pins artifact == fresh build). */
  private[operators] def fusedRrf(s: SparkSession, dir: String): DataFrame =
    Artifacts.localFrame(s, dir, "rrf_fused")(fusedBuild(s, dir))

  private def q94(s: SparkSession, dir: String): DataFrame =
    fusedRrf(s, dir).orderBy(col("rrf_score").desc, col("doc_id"))

  private val q94Sql =
    s"""WITH d AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
       |), g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM d
       |), tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok IN ('spark', 'query', 'fast') GROUP BY 1, 2
       |), idf AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), ts AS (
       |  SELECT tf.doc_id, tf.tok,
       |         (g.n_docs + 1.0) / (idf.df + 1.0) * (tf.tf * 2.2)
       |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / g.avgdl)) AS s
       |  FROM tf JOIN idf USING (tok) JOIN d ON d.doc_id = tf.doc_id, g
       |  WHERE tf.doc_id <> 0
       |), lex AS (
       |  SELECT doc_id,
       |         floor((COALESCE(max(CASE WHEN tok = 'spark' THEN s END), 0)
       |              + COALESCE(max(CASE WHEN tok = 'query' THEN s END), 0)
       |              + COALESCE(max(CASE WHEN tok = 'fast' THEN s END), 0))
       |               * 1e6 + 0.5) / 1e6 AS lex_score
       |  FROM ts GROUP BY doc_id
       |), lex_top AS (
       |  SELECT doc_id, lex_score,
       |         row_number() OVER (ORDER BY lex_score DESC, doc_id) AS lex_rank
       |  FROM (SELECT * FROM lex ORDER BY lex_score DESC, doc_id LIMIT $TopK)
       |), nv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), dense AS (
       |  SELECT c.vec_id AS doc_id,
       |         floor((CASE WHEN c.nrm * q.nrm = 0 THEN 0.0 ELSE list_dot_product(c.v, q.v) / (c.nrm * q.nrm) END) * 1e6 + 0.5) / 1e6
       |           AS dense_score
       |  FROM nv c JOIN nv q ON q.vec_id = 0 AND c.vec_id <> 0
       |), dense_top AS (
       |  SELECT doc_id, dense_score,
       |         row_number() OVER (ORDER BY dense_score DESC, doc_id) AS dense_rank
       |  FROM (SELECT * FROM dense ORDER BY dense_score DESC, doc_id LIMIT $TopK)
       |)
       |SELECT doc_id,
       |       CAST(COALESCE(1000000 // ($RrfK + l.lex_rank), 0)
       |          + COALESCE(1000000 // ($RrfK + r.dense_rank), 0) AS BIGINT) AS rrf_score,
       |       CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
       |       CAST(COALESCE(r.dense_rank, 0) AS BIGINT) AS dense_rank
       |FROM lex_top l FULL JOIN dense_top r USING (doc_id)
       |ORDER BY rrf_score DESC, doc_id LIMIT $OutK""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Context-window assembly under a token budget — the step that turns
    * q94's fused ranking into the prompt a RAG serving path actually
    * ships: walk the RRF list in rank order accumulating token costs
    * and mark the PREFIX that fits the budget (stop at first overflow —
    * the deterministic window-packing rule; greedy-skip variants trade
    * a head doc for two tail docs and wreck rank faithfulness). Output
    * keeps every candidate with its running total, so the report shows
    * both what shipped and what the budget cut.
    *
    * Exactness: rides q94's integer RRF scores verbatim — it reads
    * the SAME `rrf_fused` standing artifact q94 serves from (the
    * oracle re-derives the fused list inline, so artifact reuse can
    * never mask a wrong result); token costs and the running total
    * are BIGINT; the packed flag is one comparison against B = 512.
    *
    * Scale: the fused list is ≤ 20 rows by construction and a
    * LocalRelation here — the single-partition rank window is free;
    * token counts come from one narrow projection of the corpus
    * joined BY the broadcast 20-row list (the corpus never shuffles,
    * and the two corpus-scale retrievals run once per corpus, not
    * once per downstream consumer). */
  private val CtxBudget = 512L

  private def q143(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.orderBy(col("rrf_score").desc, col("doc_id"))
    toks.join(broadcast(fusedRrf(s, dir)), Seq("doc_id"))
      .withColumn("ctx_rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("ctx_rank"), col("doc_id"), col("rrf_score"),
        col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= CtxBudget).as("packed"))
      .orderBy(col("ctx_rank"))
  }

  private val q143Sql = {
    // q94Sql is a complete WITH…SELECT — nest it as the fused list
    s"""WITH fused AS (
       |$q94Sql
       |), wt AS (
       |  SELECT f.doc_id, f.rrf_score,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
       |  FROM fused f JOIN documents d USING (doc_id)
       |), c AS (
       |  SELECT doc_id, rrf_score, n_tokens,
       |         row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS ctx_rank,
       |         sum(n_tokens) OVER (ORDER BY rrf_score DESC, doc_id) AS cum_tokens
       |  FROM wt)
       |SELECT CAST(ctx_rank AS BIGINT) AS ctx_rank, doc_id, rrf_score, n_tokens,
       |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       cum_tokens <= $CtxBudget AS packed
       |FROM c ORDER BY ctx_rank""".stripMargin
  }

  // --------------------------------------------------------------- q171
  /** Inverted-index compression-size estimate — the capacity-planning
    * number computed BEFORE building a retrieval index over 100 TB:
    * posting lists store delta gaps, and the classic codes' sizes are
    * pure integer functions of the gap's bit length (Witten, Moffat &
    * Bell, "Managing Gigabytes" ch.3): Elias-γ costs 2⌊log₂g⌋+1 bits,
    * LEB128 varint ⌈bitlen/7⌉ bytes. Per log₂(df) bucket (bucket =
    * bitlen(df): rare terms 1, stopword-class terms high): term and
    * posting counts, raw 8-byte-id bytes, γ bytes, varint bytes, and
    * each code's compressed-to-raw ppm — showing the classic result
    * that gap coding crushes high-df lists (dense ⇒ small gaps) while
    * rare-term lists stay near-incompressible.
    *
    * Exactness: bitlen via length(bin(g)) in BOTH engines (Spark and
    * DuckDB both render minimal-width binary); first posting encodes
    * doc_id − (−1) so a 0 id still yields a positive gap; all sums
    * Long.
    *
    * Scale: the postings frame is index-scale (Σdf rows) — one
    * (term)-partitioned window computes lag-gaps and df in a single
    * pass, then everything map-side-combines into ≤ 64 bitlen
    * buckets. No collect_list: gaps never materialize per term. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val byTerm = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val wholeTerm = Window.partitionBy(col("term"))
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(filter(split(text, ' '), x -> x <> ''))")).as("term"))
      .withColumn("gap", col("doc_id") - coalesce(lag(col("doc_id"), 1).over(byTerm), lit(-1L)))
      .withColumn("df", count(lit(1)).over(wholeTerm))
      .withColumn("blen", length(bin(col("gap"))).cast("long"))
      .withColumn("bucket", length(bin(col("df"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(expr("2 * blen - 1")).as("gamma_bits"),
        sum(expr("(blen + 6) DIV 7")).as("varint_bytes"))
      .withColumn("raw_bytes", expr("n_postings * 8"))
      .withColumn("gamma_bytes", expr("(gamma_bits + 7) DIV 8"))
      .withColumn("gamma_ppm", expr("(gamma_bytes * 1000000) DIV raw_bytes"))
      .withColumn("varint_ppm", expr("(varint_bytes * 1000000) DIV raw_bytes"))
      .select(col("bucket").as("df_log2_bucket"), col("n_terms"),
        col("n_postings"), col("raw_bytes"), col("gamma_bytes"),
        col("varint_bytes"), col("gamma_ppm"), col("varint_ppm"))
      .orderBy(col("df_log2_bucket"))
  }

  private val q171Sql =
    """WITH p AS (
      |  SELECT doc_id, unnest(list_distinct(
      |           list_filter(string_split(text, ' '), x -> x <> ''))) AS term
      |  FROM documents
      |), g AS (
      |  SELECT term, doc_id,
      |         doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
      |                           -1) AS gap,
      |         CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
      |  FROM p
      |), b AS (
      |  SELECT term, df, CAST(length(bin(gap)) AS BIGINT) AS blen,
      |         CAST(length(bin(df)) AS BIGINT) AS bucket
      |  FROM g
      |), a AS (
      |  SELECT bucket, CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |         CAST(count(*) AS BIGINT) AS n_postings,
      |         CAST(sum(2 * blen - 1) AS BIGINT) AS gamma_bits,
      |         CAST(sum((blen + 6) // 7) AS BIGINT) AS varint_bytes
      |  FROM b GROUP BY bucket
      |)
      |SELECT bucket AS df_log2_bucket, n_terms, n_postings,
      |       n_postings * 8 AS raw_bytes,
      |       (gamma_bits + 7) // 8 AS gamma_bytes, varint_bytes,
      |       (((gamma_bits + 7) // 8) * 1000000) // (n_postings * 8) AS gamma_ppm,
      |       (varint_bytes * 1000000) // (n_postings * 8) AS varint_ppm
      |FROM a ORDER BY df_log2_bucket""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q94_hybrid_rrf", Some(q94Sql), q94),
    QuerySpec("q143_context_pack", Some(q143Sql), q143),
    QuerySpec("q171_index_size_estimate", Some(q171Sql), q171),
  )
}
