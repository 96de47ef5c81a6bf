package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted data selection for LLM training sets. */
object SelectionQueries {

  private val DsirBuckets = 64

  // ---------------------------------------------------------------- q93
  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc
    * by how much more likely its hashed-unigram features are under a
    * TARGET domain's distribution than under the raw corpus, then
    * select docs whose log-importance is positive. Target here: the
    * content-defined domain "docs mentioning `window` ≥ 2 times" — a
    * seed-filter-defined target, the practical DSIR setup, and
    * computed SCAN-SIDE per row (a higher-order filter over the token
    * array, no join; the synthetic corpus's `lang` labels carry no
    * distributional signal, so a label-defined target would
    * degenerate to all-zero weights). Features: unigrams hashed into
    * 64 buckets by the md5-prefix uniform (the q76 hash —
    * engine-portable, overflow-free); the per-bucket weight
    * ln(p_target/p_raw) comes from the q88 exact-rational milli-nat
    * ladder over Laplace-smoothed integer milli-shares, so every
    * doc's logit is an exact BIGINT sum and the oracle replays it
    * verbatim.
    *
    * Output per source: docs, selected (logit > 0) count + share, and
    * the mean per-doc logit in milli-nats.
    *
    * Scale: two corpus passes, exactly like the published method (fit
    * the two hashed n-gram models, then score): pass 1 is one
    * map-side-combined groupBy over ≤ B buckets; pass 2 re-scans,
    * broadcast-joins the B-row weight table, and aggregates per doc —
    * nothing but (bucket, counts) and per-doc partial sums ever
    * shuffles, and B is a constant. Smoothed shares use ppm
    * resolution; at corpora past ~10⁹ tokens raise the scale constant
    * with the token count (the ladder itself only compares ratios). */
  /** Per-doc DSIR logits: (doc_id, source, tgt, logit). The spec
    * asserts the resampling property on this frame (selected docs are
    * ENRICHED in the target domain). */
  private[operators] def docLogits(s: SparkSession, dir: String): DataFrame =
    // STANDING ARTIFACT (round 14): the per-doc DSIR importance
    // logits are corpus state — the exact table a production
    // selection pipeline stores next to the corpus (DSIR's published
    // pipeline computes log-importance weights once and reuses them
    // for every sampling temperature/budget) — same class as
    // doc_scores/doc_nll. The two corpus passes below (fit the
    // hashed-unigram models, score) run once per dataset; the oracle
    // re-derives the whole chain standalone, so reuse can never mask
    // a wrong result.
    Artifacts.frame(s, dir, "dsir_logits")(docLogitsBuild(s, dir))

  /** The builder (exposed for the plan pin, the docChunksBuild
    * pattern): two corpus passes — fit, then score — with the ≤ B-row
    * weight table broadcast. */
  private[operators] def docLogitsBuild(s: SparkSession, dir: String): DataFrame = {
    // tgt and the token array are computed BELOW the spread exchange —
    // once per doc, materialized into the shuffle — so the per-token
    // stages never re-split the text or re-evaluate the target
    // predicate, and the hash kernel parallelizes across cores
    // (single-row-group scans are one task otherwise; the q27/q47
    // lesson)
    val docs = Tables.spread(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        expr("size(filter(split(text, ' '), t -> t = 'window')) >= 2").as("tgt"),
        split(col("text"), " ").as("t")),
      col("doc_id"))
    val toks = docs
      .select(col("doc_id"), col("source"), col("tgt"), explode(col("t")).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("bigint") % DsirBuckets)
    // pass 1: fit both hashed-unigram models — ≤ B rows out
    val counts = toks.groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    // grand totals via a whole-frame window over the ≤ B-row count
    // frame — a separate .agg() subtree would re-run the corpus scan a
    // second time inside the broadcast build
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val weights = counts
      .withColumn("nt", sum(col("ct")).over(whole))
      .withColumn("nr", sum(col("cr")).over(whole))
      .select(col("bucket"), EventQueries.psiWeight(
        expr(s"((ct + 1) * 1000000) div (nt + $DsirBuckets)"),
        expr(s"((cr + 1) * 1000000) div (nr + $DsirBuckets)")).as("w"))
    // pass 2: score — the B-row weight table broadcasts into the scan
    toks.join(broadcast(weights), Seq("bucket"))
      .groupBy(col("source"), col("doc_id"), col("tgt"))
      .agg(sum(col("w")).as("logit"))
  }

  private def q93(s: SparkSession, dir: String): DataFrame =
    docLogits(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logit") > 0, 1L).otherwise(0L)).as("n_selected"),
        sum(col("logit")).as("sum_logit"))
      .select(col("source"), col("n_docs"), col("n_selected"),
        Det.rate(col("n_selected").cast("double") / col("n_docs")).as("sel_share"),
        Det.rate(col("sum_logit").cast("double") / col("n_docs")).as("avg_logit_mnat"))
      .orderBy(col("source"))

  private val q93Sql = {
    val w = EventQueries.classWeightSql(
      s"((ct + 1) * 1000000) // (nt + $DsirBuckets)",
      s"((cr + 1) * 1000000) // (nr + $DsirBuckets)", 8, 2079L)
    s"""WITH tk AS (
       |  SELECT doc_id, source,
       |         len(list_filter(string_split(text, ' '), t -> t = 'window')) >= 2 AS tgt,
       |         CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % $DsirBuckets AS bucket
       |  FROM (SELECT doc_id, source, text,
       |               unnest(string_split(text, ' ')) AS tok FROM documents)
       |), cnt AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |         CAST(count(*) AS BIGINT) AS cr
       |  FROM tk GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM cnt
       |), wt AS (
       |  SELECT bucket, $w AS wgt FROM cnt, tot
       |), sc AS (
       |  SELECT source, doc_id, CAST(sum(wgt) AS BIGINT) AS logit
       |  FROM tk JOIN wt USING (bucket) GROUP BY 1, 2
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |       floor(CAST(sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1e6 + 0.5) / 1e6 AS sel_share,
       |       floor(CAST(sum(logit) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
       |         AS avg_logit_mnat
       |FROM sc GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q99
  /** CCNet-style perplexity filtering (Wenzek et al. 2020): score
    * every doc by its negative log-likelihood under a Laplace-smoothed
    * BIGRAM language model and flag the high-perplexity tail — the
    * standard LM quality gate in LLM data pipelines (CCNet scores
    * against a KenLM; here the LM is trained in-engine on a
    * `doc_id % 10 = 0` split, so unseen-bigram and unseen-context
    * backoff paths are genuinely exercised on the 90% held-out docs).
    *
    * Exactness: p(w₂|w₁) = (c₂+1)/(c₁+V) stays a rational of exact
    * BIGINTs; its ln comes from [[EventQueries.lnSmallWeight]] — the
    * dyadic+mantissa milli-nat ladder (pure 64-bit compares against
    * hard-coded constants) — so every doc's NLL is an exact BIGINT
    * and the flag test is multiplicative (nll > T·n_bigrams), no
    * division anywhere.
    *
    * Output per source: docs scored, flagged count + share, corpus
    * mean NLL per bigram in milli-nats.
    *
    * Scale: exactly the CCNet shape — the trained model is a bounded
    * artifact that ships to every worker (two broadcast count tables
    * PRUNED to the top-[[LmVocabCap]] train tokens + a scalar V —
    * ≤ K² + K rows by construction; OOV → the unseen-smoothing
    * path), and
    * scoring is one corpus scan: bigrams form scan-side from the token
    * array (no posexplode self-join), meet the model in broadcast hash
    * joins, and only per-doc partial sums shuffle. Training is one
    * map-side-combined groupBy over the 10% split. */
  private val PplTrainMod = 10
  private[graft] val PplFlagMnat = 3600L

  /** Vocabulary cap for the bigram LM: the model keeps only bigrams
    * and contexts whose tokens are in the top-K train tokens (K by
    * count desc, token asc — a total order). OOV bigrams score
    * through the ordinary unseen-smoothing path, so rare/junk text
    * gets HIGHER perplexity under the pruned model — the same reason
    * CCNet ships a *pruned* KenLM. This is what bounds the collected
    * model ([[lmModel]]) at O(K²) regardless of corpus
    * size. K=24 binds against the synthetic corpus's 31-token train
    * vocab so the prune path is exercised at every sf; production
    * would set 10⁵–10⁶. */
  private[graft] val LmVocabCap = 24

  /** The LM-fit frames: (bg — bigram rows over ALL docs, c2t, c1t,
    * vt — counts/vocab off the train split) behind [[lmModel]]. */
  // token array materialized below the spread exchange (q93 note);
  // single-token docs produce no bigrams and drop out, same as the
  // oracle's empty generate_series. Train-side frames filter BEFORE
  // the spread so the fit shuffles 10% of the text, not all of it.
  private def docsOf(pre: DataFrame): DataFrame =
    Tables.spread(
      pre.select(col("doc_id"), col("source"), split(col("text"), " ").as("t")),
      col("doc_id")).filter(size(col("t")) >= 2)

  private def bgOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("source"),
      // native bigram-pair kernel — the transform/struct HOF chain
      // interpreted a lambda per bigram (WordGramsSpec pins equality)
      explode(expr("graft_adj_pairs(t)"))
        .as("b"))
    .select(col("doc_id"), col("source"),
      col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Every (doc, bigram) of the corpus — the per-query scoring scan. */
  private def corpusBigrams(s: SparkSession, dir: String): DataFrame =
    bgOf(docsOf(Tables.documents(s, dir)))

  private def lmFrames(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = Tables.documents(s, dir)
    val bg = corpusBigrams(s, dir)
    val trainDocs = docsOf(base.filter(col("doc_id") % PplTrainMod === 0))
    // token counts do double duty: |vocab| (V in the Laplace
    // denominator — the FULL vocab, pruning doesn't change smoothing
    // mass) and the top-K prune set
    val tokCounts = trainDocs.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val vt = tokCounts.agg(count(lit(1)).as("v"))
    val vocab = tokCounts
      .orderBy(col("c").desc, col("tok")).limit(LmVocabCap).select(col("tok"))
    val c2Full = bgOf(trainDocs).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // context counts are the bigram counts rolled up — c1(w1) = Σ_w2
    // c2(w1, w2) — so the contexts cost a vocab-scale agg, not a
    // second corpus pass. Rolled up BEFORE the prune: an in-vocab
    // context keeps its true count even where rare continuations were
    // pruned (KenLM keeps original backoff statistics the same way).
    val c1Full = c2Full.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    // the prune: keep model entries only inside the top-K alphabet —
    // ≤ K² bigrams, ≤ K contexts, the bound that makes the collected
    // artifact shippable at any corpus size
    val c2t = c2Full
      .join(broadcast(vocab.withColumnRenamed("tok", "w1")), Seq("w1"), "left_semi")
      .join(broadcast(vocab.withColumnRenamed("tok", "w2")), Seq("w2"), "left_semi")
      // semi joins hoist their key to column 0 — restore (w1, w2, c2) so
      // positional consumers (the collected model) read true key order
      .select(col("w1"), col("w2"), col("c2"))
    val c1t = c1Full
      .join(broadcast(vocab.withColumnRenamed("tok", "w1")), Seq("w1"), "left_semi")
    (bg, c2t, c1t, vt)
  }

  /** The fitted LM as a STANDING ARTIFACT ([[Artifacts]]): pruned
    * bigram counts, context counts, |vocab| — collected ONCE per
    * dataset into LocalRelations (provably ≤ K² + K entries at ANY
    * corpus size thanks to the [[LmVocabCap]] prune) and reused by
    * every scorer (q99/q112/q130/q149/q150 and the NB/gate family all
    * score under this one model; each re-fitting the train split per
    * query was the round-7 perf audit's LM finding). */
  private[graft] def lmModel(
      s: SparkSession, dir: String): (DataFrame, DataFrame, Long) =
    Artifacts.value(s, dir, "bigram_lm") {
      // lazy: the fit runs only for an inner frame not yet memoized
      lazy val f = lmFrames(s, dir)
      (Artifacts.localFrame(s, dir, "lm_bigrams")(f._2),
        Artifacts.localFrame(s, dir, "lm_contexts")(f._3),
        Artifacts.localFrame(s, dir, "lm_vocab")(f._4).head().getLong(0))
    }

  /** Per-doc NLL frame (source, doc_id, nll, nbg) as a STANDING
    * ARTIFACT: corpus-scale but NARROW (4 columns, one row per doc —
    * the same contract as `dup_islands`), and exactly reproducible
    * because the ladder weights are integers (no float partial-sum
    * order dependence). Seven registered queries score under it
    * (q99/q112/q120/q130/q144/q149/q150); before this each re-ran the
    * full corpus bigram explode + LM broadcast join — the dominant
    * repeated linear scan left after gram_counts/dup_islands
    * (r10 verdict #5: q149's 2.2× was this substrate, not its own
    * bounded-bin tail). Build discipline pinned in
    * PipelinePlanShapeSpec; artifact == inline in ArtifactsSpec. */
  private[graft] def docNll(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_nll")(docNllBuild(s, dir))

  /** The one corpus-scoring pass behind [[docNll]] — the spec asserts
    * the ladder arithmetic and the planted-junk flagging on this.
    * Scoring joins the LM artifact's LocalRelations broadcast-side;
    * the corpus-side bigram explode runs once per dataset. */
  private[graft] def docNllBuild(s: SparkSession, dir: String): DataFrame = {
    val (c2t, c1t, v) = lmModel(s, dir)
    val bg = corpusBigrams(s, dir)
    bg.join(broadcast(c2t), Seq("w1", "w2"), "left")
      .join(broadcast(c1t), Seq("w1"), "left")
      .withColumn("v", lit(v))
      .select(col("doc_id"), col("source"),
        EventQueries.lnSmallWeight(
          coalesce(col("c2"), lit(0L)) + 1L,
          coalesce(col("c1"), lit(0L)) + col("v")).as("w"))
      .groupBy(col("source"), col("doc_id"))
      .agg((-sum(col("w"))).as("nll"), count(lit(1)).as("nbg"))
  }

  private def q99(s: SparkSession, dir: String): DataFrame =
    docNll(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nll") > lit(PplFlagMnat) * col("nbg"), 1L)
          .otherwise(0L)).as("n_flagged"),
        sum(col("nll")).as("sum_nll"), sum(col("nbg")).as("sum_bg"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        Det.rate(col("n_flagged").cast("double") / col("n_docs")).as("flag_share"),
        Det.rate(col("sum_nll").cast("double") / col("sum_bg")).as("avg_nll_mnat"))
      .orderBy(col("source"))

  /** Shared oracle prefix: the pruned-LM fit + per-doc scoring CTE
    * chain, ending in sc(doc_id, source, nll, nbg). q99 aggregates it
    * per source; q112 bins it into curriculum phases. One text, zero
    * drift between the two oracles. */
  private[operators] def docNllSqlPrefix: String = {
    val w = EventQueries.lnSmallWeightSql(
      "COALESCE(c2, 0) + 1", "COALESCE(c1, 0) + v")
    s"""WITH tl AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |), bg AS (
       |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
       |  FROM tl, unnest(generate_series(1, len(t) - 1)) AS u(i)
       |), tc AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(t) AS tok FROM tl WHERE doc_id % $PplTrainMod = 0)
       |  GROUP BY 1
       |), vt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS v FROM tc
       |), vocab AS (
       |  SELECT tok FROM tc ORDER BY c DESC, tok LIMIT $LmVocabCap
       |), c2a AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       |  FROM bg WHERE doc_id % $PplTrainMod = 0 GROUP BY 1, 2
       |), c2t AS (
       |  SELECT c2a.* FROM c2a
       |  WHERE w1 IN (SELECT tok FROM vocab) AND w2 IN (SELECT tok FROM vocab)
       |), c1a AS (
       |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2a GROUP BY 1
       |), c1t AS (
       |  SELECT c1a.* FROM c1a WHERE w1 IN (SELECT tok FROM vocab)
       |), sc AS (
       |  SELECT b.doc_id, b.source,
       |         CAST(-sum($w) AS BIGINT) AS nll,
       |         CAST(count(*) AS BIGINT) AS nbg
       |  FROM bg b LEFT JOIN c2t USING (w1, w2) LEFT JOIN c1t USING (w1), vt
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  private val q99Sql =
    s"""$docNllSqlPrefix
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN nll > $PplFlagMnat * nbg THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_flagged,
       |       floor(CAST(sum(CASE WHEN nll > $PplFlagMnat * nbg THEN 1 ELSE 0 END)
       |                  AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS flag_share,
       |       floor(CAST(sum(nll) AS DOUBLE) / sum(nbg) * 1e6 + 0.5) / 1e6
       |         AS avg_nll_mnat
       |FROM sc GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q112
  /** Curriculum phase assignment (curriculum learning / Bengio et al.
    * 2009 applied to corpus construction): order the corpus by model
    * difficulty — per-doc avg NLL under q99's pruned bigram LM — and
    * cut it into 3 phases of equal TOKEN volume (easy warm-up → hard
    * tail), reporting how each source's volume distributes across
    * phases (the per-phase mixing matrix a staged training run feeds
    * its sampler).
    *
    * The cut is computed on a bounded DIFFICULTY-BIN frame, not the
    * doc stream: per-doc difficulty in micro-nats/bigram quantizes to
    * 0.01-nat bins (the ladder's range caps the grid at a few
    * thousand bins at any corpus size), bins aggregate map-side, and
    * the running-total window that places the two phase boundaries
    * runs on that bounded frame — never a global sort of the corpus.
    * Docs then broadcast-join their bin's phase. Phase boundaries are
    * exact integer arithmetic (3·cum_excl DIV total, clamped to 2),
    * so a bin straddling a boundary lands wholly in the earlier phase
    * — the documented bin-granular semantics.
    *
    * Single-token docs have no bigrams, no difficulty, and drop out —
    * same as q99 and the oracle's empty generate_series. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the per-doc difficulty frame feeds BOTH the bin aggregate (via
    // the broadcast phase map) and the final rollup; the two subtrees
    // are IDENTICAL, so AQE's exchange reuse executes the LM-scoring
    // chain once within the single result job — an explicit
    // persist + eager-collect variant measured SLOWER (3.3 s vs 2.1 s
    // at sf0.1: it serializes the passes and pays the cache write)
    val d = docNll(s, dir).select(col("source"),
      (col("nbg") + 1L).as("n_tokens"),
      expr("((nll * 1000) DIV nbg) DIV 10000").as("bin"))
    val bins = d.groupBy(col("bin")).agg(sum(col("n_tokens")).as("bt"))
    // global window + cross join: both run on the bin frame, whose
    // size is fixed by the ladder's range, not the corpus
    val cumW = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)
    val ph = bins
      .withColumn("cum_excl", coalesce(sum(col("bt")).over(cumW), lit(0L)))
      .crossJoin(broadcast(bins.agg(sum(col("bt")).as("tot"))))
      .select(col("bin"), least(lit(2L), expr("(3 * cum_excl) DIV tot")).as("phase"))
    d.join(broadcast(ph), Seq("bin"))
      .groupBy(col("phase"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("phase"), col("source"))
  }

  private val q112Sql =
    s"""$docNllSqlPrefix
       |, d AS (
       |  SELECT doc_id, source, CAST(nbg + 1 AS BIGINT) AS n_tokens,
       |         CAST(((nll * 1000) // nbg) // 10000 AS BIGINT) AS bin
       |  FROM sc
       |), b AS (
       |  SELECT bin, CAST(sum(n_tokens) AS BIGINT) AS bt FROM d GROUP BY bin
       |), w AS (
       |  SELECT bin, CAST(COALESCE(sum(bt) OVER (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_excl
       |  FROM b
       |), t AS (
       |  SELECT CAST(sum(bt) AS BIGINT) AS tot FROM b
       |), ph AS (
       |  SELECT bin, least(2, (3 * cum_excl) // tot) AS phase FROM w, t
       |)
       |SELECT ph.phase, d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens
       |FROM d JOIN ph USING (bin)
       |GROUP BY ph.phase, d.source ORDER BY ph.phase, d.source""".stripMargin

  // --------------------------------------------------------------- q105
  /** Temperature-weighted token-budget apportionment (the UniMax /
    * LLaMA data-mixing step): given per-source token counts n_s, give
    * each source sampling weight n_s^α with α = 1/2 (sqrt temperature
    * — upweights small sources without letting a giant crawl dominate)
    * and split a fixed training-token budget across sources by the
    * largest-remainder (Hamilton) method, so the integer budgets sum
    * EXACTLY to the total. Output per source: docs, tokens, weight,
    * allotted budget, budget share, and epochs (budget/n_s — how many
    * passes over the source the allocation implies; UniMax's cap would
    * clamp this). The computed mix is exactly the target-proportion
    * input q76's resampler consumes.
    *
    * Exactness: √n is an exact integer sqrt (double sqrt then a ±1
    * integer correction — bit-identical in both engines for
    * n < 2⁶²); base shares and remainders are pure BIGINT div/mod;
    * the +1 top-up ranks remainders with a total (rem DESC, source)
    * order. Only share/epochs are Det.rate-rounded.
    *
    * Scale: one corpus scan → map-side-combined per-source aggregate
    * (|S| rows); everything after — whole-frame windows, the
    * remainder rank — runs on that |S|-row frame, so the global
    * windows cost nothing. Budget·weight stays < 2⁶³ for any corpus
    * under ~10²⁴ tokens. */
  private val BudgetTokens = 1000000L

  /** Exact integer sqrt: correct the double-sqrt candidate by one in
    * either direction (handles half-ulp rounding at square
    * boundaries). */
  private def isqrt(c: Column): Column = {
    val r = floor(sqrt(c.cast("double"))).cast("long")
    when((r + 1) * (r + 1) <= c, r + 1)
      .when(r * r > c, r - 1)
      .otherwise(r)
  }

  private def q105(s: SparkSession, dir: String): DataFrame = {
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val byRem = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy(col("rem").desc, col("source"))
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tok"))
      .withColumn("w", isqrt(col("n_tok")))
      .withColumn("tw", sum(col("w")).over(whole))
      .withColumn("base", expr(s"($BudgetTokens * w) div tw"))
      .withColumn("rem", expr(s"($BudgetTokens * w) % tw"))
      .withColumn("short", lit(BudgetTokens) - sum(col("base")).over(whole))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tok"), col("w").as("weight"),
        (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("budget"))
      .withColumn("budget_share",
        Det.rate(col("budget").cast("double") / BudgetTokens))
      .withColumn("epochs",
        Det.rate(col("budget").cast("double") / col("n_tok")))
      .orderBy(col("source"))
  }

  private val q105Sql =
    s"""WITH src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY source
       |), r0 AS (
       |  SELECT *, CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS r
       |  FROM src
       |), wt AS (
       |  SELECT source, n_docs, n_tok,
       |         CASE WHEN (r + 1) * (r + 1) <= n_tok THEN r + 1
       |              WHEN r * r > n_tok THEN r - 1 ELSE r END AS w
       |  FROM r0
       |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt),
       |alloc AS (
       |  SELECT source, n_docs, n_tok, w,
       |         ($BudgetTokens * w) // tw AS base,
       |         ($BudgetTokens * w) % tw AS rem
       |  FROM wt, tot
       |), topped AS (
       |  SELECT source, n_docs, n_tok, w, base, rem,
       |         $BudgetTokens - sum(base) OVER () AS short,
       |         row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM alloc
       |)
       |SELECT source, n_docs, n_tok, CAST(w AS BIGINT) AS weight,
       |       CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
       |         AS budget,
       |       floor(CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS DOUBLE)
       |             / $BudgetTokens * 1e6 + 0.5) / 1e6 AS budget_share,
       |       floor(CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS DOUBLE)
       |             / n_tok * 1e6 + 0.5) / 1e6 AS epochs
       |FROM topped ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q114
  /** UniMax epoch-capped uniform allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining") — the cap q105's scaladoc points at,
    * made real, and on UniMax's own axis (LANGUAGE, not source): spread
    * a training-token budget as evenly as possible across languages,
    * but never ask any language for more than E epochs of its corpus.
    * That is exact integer WATERFILLING: alloc_l = min(cap_l, λ) with
    * cap_l = E·n_l and the water level λ chosen so Σ alloc = B.
    *
    * Closed-form, not iterative: sort languages by cap ascending with a
    * lang tiebreak; a language is capped iff every prefix language
    * passes the level test cap_i·(S−i+1) ≤ B − Σ_{j<i} cap_j (an exact
    * cross-multiplied integer compare — the test is provably monotone
    * under the ascending sort, and the prefix-min makes "capped is a
    * prefix" structural rather than assumed). Uncapped languages split
    * the remaining budget to the token: base DIV + largest-remainder
    * +1s in the same total order, so Σ alloc == min(B, Σ cap) EXACTLY.
    * B = (3·T) DIV 2 and E = 2 are corpus-relative, so the same split
    * logic binds at every sf: low-resource languages hit their 2-epoch
    * cap, the head language absorbs the rest at < 1 epoch — the
    * paper's headline behavior.
    *
    * Scale: one map-side-combined corpus scan to the |langs|-row
    * aggregate; every window after runs on that frame, so the "global"
    * windows are free. UniMaxSpec pins the closed form against an
    * independent iterative waterfiller on randomized corpora. */
  private val UniMaxEpochCap = 2L

  private def q114(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val asc = Window.partitionBy().orderBy(col("cap"), col("lang"))
    val ascPrev = asc.rowsBetween(Window.unboundedPreceding, -1)
    val ascTo = asc.rowsBetween(Window.unboundedPreceding, 0)
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tok"))
      .withColumn("cap", lit(UniMaxEpochCap) * col("n_tok"))
      .withColumn("budget", expr("(3 * sum(n_tok) OVER ()) div 2"))
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("s_cnt", count(lit(1)).over(whole))
      .withColumn("cum_before", coalesce(sum(col("cap")).over(ascPrev), lit(0L)))
      .withColumn("cond",
        when(col("cap") * (col("s_cnt") - col("i") + 1) <=
          col("budget") - col("cum_before"), 1L).otherwise(0L))
      .withColumn("capped", min(col("cond")).over(ascTo))
      .withColumn("k", sum(col("capped")).over(whole))
      .withColumn("used_cap", sum(col("capped") * col("cap")).over(whole))
      .withColumn("u_cnt", col("s_cnt") - col("k"))
      .withColumn("rem", col("budget") - col("used_cap"))
      .withColumn("alloc",
        when(col("capped") === 1 || col("u_cnt") === 0, col("cap"))
          .otherwise(expr("rem div u_cnt") +
            when(col("i") - col("k") <= col("rem") % col("u_cnt"), 1L)
              .otherwise(0L)))
      .select(col("lang"), col("n_docs"), col("n_tok"), col("cap"),
        col("alloc"),
        expr("(alloc * 1000) div n_tok").as("epochs_milli"),
        (col("capped") === 1).as("capped"))
      .orderBy(col("lang"))
  }

  private val q114Sql =
    s"""WITH per AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY lang
       |), st AS (
       |  SELECT lang, n_docs, n_tok, $UniMaxEpochCap * n_tok AS cap,
       |         (3 * sum(n_tok) OVER ()) // 2 AS budget
       |  FROM per
       |), ord AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
       |         CAST(count(*) OVER () AS BIGINT) AS s_cnt,
       |         CAST(COALESCE(sum(cap) OVER (ORDER BY cap, lang
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS cum_before
       |  FROM st
       |), cnd AS (
       |  SELECT *, CASE WHEN cap * (s_cnt - i + 1) <= budget - cum_before
       |                 THEN 1 ELSE 0 END AS cond
       |  FROM ord
       |), cp AS (
       |  SELECT *, min(cond) OVER (ORDER BY cap, lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
       |  FROM cnd
       |), tot AS (
       |  SELECT *, CAST(sum(capped) OVER () AS BIGINT) AS k,
       |         CAST(sum(capped * cap) OVER () AS BIGINT) AS used_cap
       |  FROM cp
       |), fin AS (
       |  SELECT *, s_cnt - k AS u_cnt, budget - used_cap AS rem FROM tot
       |)
       |SELECT lang, n_docs, n_tok, CAST(cap AS BIGINT) AS cap,
       |       CAST(CASE WHEN capped = 1 OR u_cnt = 0 THEN cap
       |                 ELSE rem // u_cnt +
       |                      CASE WHEN i - k <= rem % u_cnt THEN 1 ELSE 0 END
       |            END AS BIGINT) AS alloc,
       |       CAST((CASE WHEN capped = 1 OR u_cnt = 0 THEN cap
       |                  ELSE rem // u_cnt +
       |                       CASE WHEN i - k <= rem % u_cnt THEN 1 ELSE 0 END
       |             END * 1000) // n_tok AS BIGINT) AS epochs_milli,
       |       capped = 1 AS capped
       |FROM fin ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q144
  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * score every DOMAIN (source) by its excess loss — how much worse
    * the reference model does on that domain than on the corpus as a
    * whole — and shift the sampling mixture toward high-excess
    * domains with one multiplicative-weights (Hedge) step. The
    * reference model is q99's pruned bigram LM ([[docNll]] — reused
    * verbatim, so the two operators cannot disagree about a doc's
    * loss); DoReMi proper trains a small proxy transformer, but the
    * OPERATOR — per-domain excess loss → exponentiated-gradient
    * reweight → renormalize — is the same.
    *
    * Exactness: per-domain and corpus average NLL are truncated
    * integer divisions in µnat/bigram; excess clamps at 0 (Hedge
    * never downweights below the baseline by construction here). The
    * Hedge factor e^(η·excess) is linearized to (1 + η·excess) —
    * libm exp is not bit-portable across engines, and for one step at
    * small η the linear update is the same ordering with exact BIGINT
    * arithmetic (documented engine semantics, like q89's ladder).
    * Final weights renormalize to EXACTLY 10⁶ ppm by q105's
    * largest-remainder method.
    *
    * Scale: everything past [[docNll]]'s per-doc rollup runs on the
    * |domains|-row frame, where the whole-frame windows are free. The
    * raw weight divides by 10⁶ before the ppm renormalization so no
    * intermediate product exceeds ~10¹⁵ even at the ladder's clamp. */
  private val DoremiEta = 10L

  private def q144(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val byRem = Window.partitionBy().orderBy(col("rem").desc, col("source"))
    docNll(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll")).as("sum_nll"), sum(col("nbg")).as("n_bigrams"))
      .withColumn("tot_nll", sum(col("sum_nll")).over(whole))
      .withColumn("tot_bg", sum(col("n_bigrams")).over(whole))
      .withColumn("avg_nll_unat", expr("(sum_nll * 1000) DIV n_bigrams"))
      .withColumn("excess_unat",
        greatest(lit(0L), col("avg_nll_unat") - expr("(tot_nll * 1000) DIV tot_bg")))
      .withColumn("base_ppm", expr("(n_bigrams * 1000000) DIV tot_bg"))
      .withColumn("raw",
        expr(s"(base_ppm * (1000000 + $DoremiEta * excess_unat)) DIV 1000000"))
      .withColumn("traw", sum(col("raw")).over(whole))
      .withColumn("b", expr("(raw * 1000000) DIV traw"))
      .withColumn("rem", expr("(raw * 1000000) % traw"))
      .withColumn("short", lit(1000000L) - sum(col("b")).over(whole))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("avg_nll_unat"), col("excess_unat"), col("base_ppm"),
        (col("b") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("doremi_ppm"))
      .orderBy(col("source"))
  }

  private val q144Sql =
    s"""$docNllSqlPrefix
       |, ps AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(nll) AS BIGINT) AS sum_nll,
       |         CAST(sum(nbg) AS BIGINT) AS n_bigrams
       |  FROM sc GROUP BY 1
       |), g AS (
       |  SELECT CAST(sum(sum_nll) AS BIGINT) AS tot_nll,
       |         CAST(sum(n_bigrams) AS BIGINT) AS tot_bg FROM ps
       |), ex AS (
       |  SELECT source, n_docs, n_bigrams,
       |         (sum_nll * 1000) // n_bigrams AS avg_nll_unat,
       |         greatest(0, (sum_nll * 1000) // n_bigrams
       |                     - (tot_nll * 1000) // tot_bg) AS excess_unat,
       |         (n_bigrams * 1000000) // tot_bg AS base_ppm
       |  FROM ps, g
       |), rw AS (
       |  SELECT *, (base_ppm * (1000000 + $DoremiEta * excess_unat)) // 1000000
       |              AS raw
       |  FROM ex
       |), tt AS (SELECT CAST(sum(raw) AS BIGINT) AS traw FROM rw),
       |al AS (
       |  SELECT *, (raw * 1000000) // traw AS b, (raw * 1000000) % traw AS rem
       |  FROM rw, tt
       |), tp AS (
       |  SELECT *, 1000000 - sum(b) OVER () AS short,
       |         row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM al
       |)
       |SELECT source, n_docs, n_bigrams,
       |       CAST(avg_nll_unat AS BIGINT) AS avg_nll_unat,
       |       CAST(excess_unat AS BIGINT) AS excess_unat,
       |       CAST(base_ppm AS BIGINT) AS base_ppm,
       |       CAST(b + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
       |         AS doremi_ppm
       |FROM tp ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q145
  /** Per-source token-budget cap (the RefinedWeb / C4 corpus
    * rebalancing move): no source may contribute more than 90% of the
    * uniform token share — cap = (9·T) DIV (10·S) — so over-represented
    * crawls get trimmed while small sources keep everything. Within a
    * capped source, docs are admitted in the deterministic
    * md5(doc_id) priority order (q19/q57's engine-portable uniform
    * permutation) while the RUNNING token total stays within the cap
    * (greedy prefix, q143's budget-walk semantics: a doc is kept iff
    * its inclusive running total ≤ cap — the first overflowing doc and
    * everything after it drop).
    *
    * Output per source: docs/tokens before, the cap, kept/dropped
    * docs, kept tokens, and the corpus token share before and after
    * in exact ppm — the flattening read (post-cap shares compress
    * toward uniform) a mixture designer applies before q105/q114
    * allocate budgets.
    *
    * Scale: the cap and both share denominators live on |S|-row
    * whole-frame windows (free); the admission walk is a per-source
    * cumulative-sum window over (source, 16-byte priority, n_tok)
    * rows — the text itself never shuffles, and the sort is
    * partition-local per source. A pathologically hot source is the
    * q45 salt-and-merge case; RefinedWeb runs exactly this shape per
    * CommonCrawl snapshot. */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val walk = Window.partitionBy(col("source"))
      .orderBy(col("pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        md5(col("doc_id").cast("string")).as("pri"))
    val caps = docs.groupBy(col("source")).agg(sum(col("n")).as("src_tok"))
      .withColumn("cap",
        expr("(9 * sum(src_tok) OVER ()) DIV (10 * count(*) OVER ())"))
    docs.join(broadcast(caps), Seq("source"))
      .withColumn("cum", sum(col("n")).over(walk))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("src_tok")).as("n_tok"), max(col("cap")).as("cap"),
        sum(when(col("cum") <= col("cap"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("cum") <= col("cap"), col("n")).otherwise(0L))
          .as("kept_tokens"))
      .withColumn("dropped_docs", col("n_docs") - col("kept_docs"))
      .withColumn("share_before_ppm",
        expr("(n_tok * 1000000) DIV sum(n_tok) OVER ()"))
      .withColumn("share_after_ppm",
        expr("(kept_tokens * 1000000) DIV sum(kept_tokens) OVER ()"))
      .select(col("source"), col("n_docs"), col("n_tok"), col("cap"),
        col("kept_docs"), col("dropped_docs"), col("kept_tokens"),
        col("share_before_ppm"), col("share_after_ppm"))
      .orderBy(col("source"))
  }

  private val q145Sql =
    """WITH d AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |         md5(CAST(doc_id AS VARCHAR)) AS pri
      |  FROM documents
      |), srcs AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS src_tok FROM d GROUP BY source
      |), caps AS (
      |  SELECT source, src_tok,
      |         (9 * CAST(sum(src_tok) OVER () AS BIGINT))
      |           // (10 * CAST(count(*) OVER () AS BIGINT)) AS cap
      |  FROM srcs
      |), w AS (
      |  SELECT d.source, d.n, caps.src_tok, caps.cap,
      |         CAST(sum(d.n) OVER (PARTITION BY d.source
      |           ORDER BY d.pri, d.doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum
      |  FROM d JOIN caps USING (source)
      |), per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(max(src_tok) AS BIGINT) AS n_tok,
      |         CAST(max(cap) AS BIGINT) AS cap,
      |         CAST(sum(CASE WHEN cum <= cap THEN 1 ELSE 0 END) AS BIGINT)
      |           AS kept_docs,
      |         CAST(sum(CASE WHEN cum <= cap THEN n ELSE 0 END) AS BIGINT)
      |           AS kept_tokens
      |  FROM w GROUP BY source
      |)
      |SELECT source, n_docs, n_tok, cap, kept_docs,
      |       n_docs - kept_docs AS dropped_docs, kept_tokens,
      |       (n_tok * 1000000) // CAST(sum(n_tok) OVER () AS BIGINT)
      |         AS share_before_ppm,
      |       (kept_tokens * 1000000) // CAST(sum(kept_tokens) OVER () AS BIGINT)
      |         AS share_after_ppm
      |FROM per ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q149
  /** CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020
    * §4.3): WITHIN each source, cut the corpus into three equal-token
    * buckets by LM difficulty — CCNet's signature move, publishing
    * each language's crawl as head/middle/tail perplexity slices so
    * consumers pick their quality/volume tradeoff. The cut point is
    * per-SOURCE (unlike q112's single global curriculum cut): a
    * "hard" doc in a clean source and an average doc in a noisy
    * source land in different buckets, which is exactly why CCNet
    * buckets per language rather than globally.
    *
    * Same bounded-bin kernel as q112: per-doc difficulty (µnat/bigram
    * under q99's pruned LM, [[docNll]] reused verbatim) quantizes to
    * 0.01-nat bins; the running-total window that places the two cut
    * points runs per source over the bin grid (never a doc sort); a
    * boundary-straddling bin lands wholly in the earlier bucket.
    * Output: (source, bucket, n_docs, n_tokens) — bucket 0 = head
    * (lowest perplexity), 2 = tail.
    *
    * Scale: the bin frame is |S|·|bins| rows (both bounded constants);
    * the per-source windows partition by source so there is no global
    * serialization point, and docs broadcast-join their (source, bin)
    * bucket. One corpus scan beyond the LM fit. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docNll(s, dir).select(col("source"),
      (col("nbg") + 1L).as("n_tokens"),
      expr("((nll * 1000) DIV nbg) DIV 10000").as("bin"))
    val bins = d.groupBy(col("source"), col("bin")).agg(sum(col("n_tokens")).as("bt"))
    val cumW = Window.partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy(col("source"))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val ph = bins
      .withColumn("cum_excl", coalesce(sum(col("bt")).over(cumW), lit(0L)))
      .withColumn("tot", sum(col("bt")).over(totW))
      .select(col("source"), col("bin"),
        least(lit(2L), expr("(3 * cum_excl) DIV tot")).as("bucket"))
    d.join(broadcast(ph), Seq("source", "bin"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("bucket"))
  }

  private val q149Sql =
    s"""$docNllSqlPrefix
       |, d AS (
       |  SELECT doc_id, source, CAST(nbg + 1 AS BIGINT) AS n_tokens,
       |         CAST(((nll * 1000) // nbg) // 10000 AS BIGINT) AS bin
       |  FROM sc
       |), b AS (
       |  SELECT source, bin, CAST(sum(n_tokens) AS BIGINT) AS bt
       |  FROM d GROUP BY source, bin
       |), w2 AS (
       |  SELECT source, bin,
       |         CAST(COALESCE(sum(bt) OVER (PARTITION BY source ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS cum_excl,
       |         CAST(sum(bt) OVER (PARTITION BY source) AS BIGINT) AS tot
       |  FROM b
       |), ph AS (
       |  SELECT source, bin, least(2, (3 * cum_excl) // tot) AS bucket FROM w2
       |)
       |SELECT d.source, CAST(ph.bucket AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens
       |FROM d JOIN ph USING (source, bin)
       |GROUP BY d.source, ph.bucket ORDER BY d.source, ph.bucket""".stripMargin

  // --------------------------------------------------------------- q161
  /** Temperature-scaled source mixing (the multilingual-sampling
    * classic: Conneau & Lample 2019 §3.1 sample languages ∝ p^α with
    * α = 0.5; mT5, Xue et al. 2021 §3.2, tunes the same exponent):
    * the sampling weight of each source is its token share raised to
    * a temperature α, interpolating between proportional sampling
    * (α = 1, big crawls dominate) and uniform sampling (α = 0, small
    * sources oversample until they overfit). This emits all three
    * canonical points of that dial — the proportional mix, the
    * α = 0.5 square-root mix, and the uniform mix — each
    * renormalized to EXACTLY 10⁶ ppm by q105's largest-remainder
    * method, which is the frame a mixture designer interpolates on
    * before handing budgets to q114/q145.
    *
    * Exactness: n^0.5 is the INTEGER square root — libm sqrt seeds
    * the guess and two integer comparisons correct the ±1 ulp error
    * (exact for n < 2⁵², i.e. any real token count), so both engines
    * produce identical weights with no float in the ordering. Ties in
    * the largest-remainder ranking break by source name.
    *
    * Scale: one count-shuffle corpus scan (map-side combined), then
    * everything runs on the |S|-row frame where whole-frame windows
    * are free. The isqrt compresses the dynamic range, so raw·10⁶
    * stays ≤ ~10¹² even for 10¹²-token sources — no overflow. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def ppm(raw: String, out: String): DataFrame => DataFrame = df => {
      val byRem = Window.partitionBy().orderBy(col(s"${out}_rem").desc, col("source"))
      df.withColumn(s"${out}_tot", sum(col(raw)).over(whole))
        .withColumn(s"${out}_b", expr(s"($raw * 1000000) DIV ${out}_tot"))
        .withColumn(s"${out}_rem", expr(s"($raw * 1000000) % ${out}_tot"))
        .withColumn(s"${out}_short", lit(1000000L) - sum(col(s"${out}_b")).over(whole))
        .withColumn(s"${out}_rk", row_number().over(byRem).cast("long"))
        .withColumn(out, col(s"${out}_b") +
          when(col(s"${out}_rk") <= col(s"${out}_short"), 1L).otherwise(0L))
    }
    val base = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("isq", expr(
        """s0 + (CASE WHEN (s0+1)*(s0+1) <= n_tokens THEN 1 ELSE 0 END)
          |   - (CASE WHEN s0*s0 > n_tokens THEN 1 ELSE 0 END)""".stripMargin))
      .withColumn("one", lit(1L))
    base
      .transform(ppm("n_tokens", "prop_ppm"))
      .transform(ppm("isq", "sqrt_ppm"))
      .transform(ppm("one", "uniform_ppm"))
      .select(col("source"), col("n_tokens"), col("isq").as("isqrt_tokens"),
        col("prop_ppm"), col("sqrt_ppm"), col("uniform_ppm"))
      .orderBy(col("source"))
  }

  private val q161Sql = {
    def ppm(src: String, raw: String, out: String) =
      s"""${out}_al AS (
         |  SELECT *, ($raw * 1000000) // CAST(sum($raw) OVER () AS BIGINT) AS ${out}_b,
         |         ($raw * 1000000) % CAST(sum($raw) OVER () AS BIGINT) AS ${out}_rem
         |  FROM $src
         |), ${out}_tp AS (
         |  SELECT *, 1000000 - CAST(sum(${out}_b) OVER () AS BIGINT) AS ${out}_short,
         |         row_number() OVER (ORDER BY ${out}_rem DESC, source) AS ${out}_rk
         |  FROM ${out}_al
         |), ${out}_f AS (
         |  SELECT * EXCLUDE (${out}_b, ${out}_rem, ${out}_short, ${out}_rk),
         |         CAST(${out}_b + CASE WHEN ${out}_rk <= ${out}_short THEN 1 ELSE 0 END
         |              AS BIGINT) AS $out
         |  FROM ${out}_tp
         |)""".stripMargin
    s"""WITH src AS (
       |  SELECT source,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), sq AS (
       |  SELECT source, n_tokens,
       |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0,
       |         CAST(1 AS BIGINT) AS one
       |  FROM src
       |), iq AS (
       |  SELECT source, n_tokens, one,
       |         s0 + (CASE WHEN (s0+1)*(s0+1) <= n_tokens THEN 1 ELSE 0 END)
       |            - (CASE WHEN s0*s0 > n_tokens THEN 1 ELSE 0 END) AS isq
       |  FROM sq
       |),
       |${ppm("iq", "n_tokens", "prop_ppm")},
       |${ppm("prop_ppm_f", "isq", "sqrt_ppm")},
       |${ppm("sqrt_ppm_f", "one", "uniform_ppm")}
       |SELECT source, n_tokens, isq AS isqrt_tokens,
       |       prop_ppm, sqrt_ppm, uniform_ppm
       |FROM uniform_ppm_f ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q170
  /** Repetition-budget audit (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): repeating data is nearly
    * free up to ~4 epochs and nearly worthless after. For training
    * budgets of 1/2/4/8× the corpus, allocated across sources by
    * q161's √-temperature weights (exact isqrt + largest-remainder,
    * so every budget apportions to the token), report how the
    * 4-epoch rule bites: sources pushed past 4 epochs, the token
    * mass requested beyond each source's 4-epoch cap, and the
    * effective-token share of the budget if over-cap repetition
    * counts zero — the table that says which budget multiple this
    * corpus can actually absorb under the chosen mixture.
    *
    * Exactness: the per-(budget, source) allocation is
    * ⌊B·w/Σw⌋ + largest-remainder top-up inside each budget
    * partition (B·w in DECIMAL(38,0)/HUGEINT — B reaches 8× a
    * 100 TB corpus's tokens and w is an isqrt, so the product
    * overflows Long at scale); caps and clamps are pure Long.
    *
    * Scale: one map-side-combined count scan, then a ×4 blowup of
    * the |S|-row frame with per-budget windows — all bounded. */
  private val EpochBudgets = Seq(1L, 2L, 4L, 8L)
  private val EpochCap = 4L

  private def q170(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byM = Window.partitionBy(col("bx"))
    val byRem = Window.partitionBy(col("bx")).orderBy(col("rem").desc, col("source"))
    val src = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        """s0 + (CASE WHEN (s0+1)*(s0+1) <= n_tokens THEN 1 ELSE 0 END)
          |   - (CASE WHEN s0*s0 > n_tokens THEN 1 ELSE 0 END)""".stripMargin))
    src.crossJoin(EpochBudgets.toDF("bx"))
      .withColumn("tw", sum(col("w")).over(byM))
      .withColumn("tt", sum(col("n_tokens")).over(byM))
      .withColumn("base",
        expr("CAST(CAST(bx * tt AS DECIMAL(38,0)) * w DIV tw AS BIGINT)"))
      .withColumn("rem", expr("pmod(CAST(bx * tt AS DECIMAL(38,0)) * w, tw)"))
      .withColumn("short", expr("bx * tt") - sum(col("base")).over(byM))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
      .withColumn("cap", col("n_tokens") * EpochCap)
      .groupBy(col("bx"))
      .agg(max(col("tt")).as("corpus_tokens"),
        count(lit(1)).as("n_sources"),
        sum(when(col("alloc") > col("cap"), 1L).otherwise(0L)).as("n_over_cap"),
        sum(greatest(col("alloc") - col("cap"), lit(0L))).as("over_mass_tokens"),
        sum(least(col("alloc"), col("cap"))).as("effective_tokens"))
      .withColumn("budget_tokens", expr("bx * corpus_tokens"))
      .withColumn("effective_ppm", expr(
        "CAST(CAST(effective_tokens AS DECIMAL(38,0)) * 1000000 DIV budget_tokens AS BIGINT)"))
      .select(col("bx").as("budget_x"), col("budget_tokens"), col("n_sources"),
        col("n_over_cap"), col("over_mass_tokens"), col("effective_tokens"),
        col("effective_ppm"))
      .orderBy(col("budget_x"))
  }

  private val q170Sql =
    s"""WITH src AS (
       |  SELECT source,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), iq AS (
       |  SELECT source, n_tokens,
       |         s0 + (CASE WHEN (s0+1)*(s0+1) <= n_tokens THEN 1 ELSE 0 END)
       |            - (CASE WHEN s0*s0 > n_tokens THEN 1 ELSE 0 END) AS w
       |  FROM (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
       |        FROM src)
       |), ms AS (SELECT CAST(unnest([${EpochBudgets.mkString(", ")}]) AS BIGINT) AS bx),
       |al AS (
       |  SELECT iq.*, ms.bx,
       |         CAST(sum(w) OVER (PARTITION BY ms.bx) AS BIGINT) AS tw,
       |         CAST(sum(n_tokens) OVER (PARTITION BY ms.bx) AS BIGINT) AS tt
       |  FROM iq CROSS JOIN ms
       |), ba AS (
       |  SELECT *,
       |         CAST((CAST(bx * tt AS HUGEINT) * w) // tw AS BIGINT) AS base,
       |         CAST((CAST(bx * tt AS HUGEINT) * w) % tw AS BIGINT) AS rem
       |  FROM al
       |), tp AS (
       |  SELECT *,
       |         bx * tt - CAST(sum(base) OVER (PARTITION BY bx) AS BIGINT) AS short,
       |         row_number() OVER (PARTITION BY bx ORDER BY rem DESC, source) AS rk
       |  FROM ba
       |), ac AS (
       |  SELECT *, base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS alloc,
       |         n_tokens * $EpochCap AS cap
       |  FROM tp
       |), ag AS (
       |  SELECT bx, CAST(max(tt) AS BIGINT) AS corpus_tokens,
       |         CAST(count(*) AS BIGINT) AS n_sources,
       |         CAST(sum(CASE WHEN alloc > cap THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_over_cap,
       |         CAST(sum(greatest(alloc - cap, 0)) AS BIGINT) AS over_mass_tokens,
       |         CAST(sum(least(alloc, cap)) AS BIGINT) AS effective_tokens
       |  FROM ac GROUP BY bx
       |)
       |SELECT bx AS budget_x, bx * corpus_tokens AS budget_tokens, n_sources,
       |       n_over_cap, over_mass_tokens, effective_tokens,
       |       CAST((CAST(effective_tokens AS HUGEINT) * 1000000)
       |            // (bx * corpus_tokens) AS BIGINT) AS effective_ppm
       |FROM ag ORDER BY budget_x""".stripMargin

  // --------------------------------------------------------------- q173
  /** Neyman-optimal eval-sample allocation (Neyman 1934 — the survey-
    * sampling rule every stratified eval set should use instead of
    * proportional draw): for a fixed budget of K = 1000 audit samples,
    * allocate n_h ∝ N_h·S_h — stratum size × stratum standard
    * deviation of the audited metric (doc token length here, the
    * stand-in for any per-doc cost) — so high-variance sources get
    * the measurements and uniform sources stop wasting them. Exact
    * integers end-to-end: per-source variance via the q169 moment
    * sums (DECIMAL(38,0) for Σx²), S_h as the exact isqrt of the
    * FLOOR variance, weights N_h·S_h in DECIMAL, the K split by the
    * shared largest-remainder method, and the proportional allocation
    * alongside for the comparison a reviewer actually wants. Both
    * allocations sum to exactly K by construction.
    *
    * Scale: one map-side-combined scan to |S| moment rows; all
    * allocation arithmetic on the |S|-row frame. */
  private val NeymanK = 1000L

  private def q173(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def lrSplit(raw: String, out: String): DataFrame => DataFrame = df => {
      val byRem = Window.partitionBy()
        .orderBy(col(s"${out}_rem").desc, col("source"))
      df.withColumn(s"${out}_tot", sum(col(raw)).over(whole))
        .withColumn(s"${out}_b", expr(s"($NeymanK * $raw) DIV ${out}_tot"))
        .withColumn(s"${out}_rem", expr(s"($NeymanK * $raw) % ${out}_tot"))
        .withColumn(s"${out}_short",
          lit(NeymanK) - sum(col(s"${out}_b")).over(whole))
        .withColumn(s"${out}_rk", row_number().over(byRem).cast("long"))
        .withColumn(out, col(s"${out}_b") +
          when(col(s"${out}_rk") <= col(s"${out}_short"), 1L).otherwise(0L))
    }
    val m = Tables.documents(s, dir)
      .select(col("source"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("len"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sx"),
        sum(expr("CAST(len AS DECIMAL(38,0)) * len")).as("sxx"))
      .withColumn("vr", expr(
        """CAST((n_docs * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |     DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)""".stripMargin))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(vr AS DOUBLE))) AS BIGINT)"))
      .withColumn("sd", expr(
        """s0 + (CASE WHEN (s0+1)*(s0+1) <= vr THEN 1 ELSE 0 END)
          |   - (CASE WHEN s0*s0 > vr THEN 1 ELSE 0 END)""".stripMargin))
      .withColumn("w", expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * sd AS DECIMAL(38,0))"))
    m.transform(lrSplit("w", "neyman_n"))
      .transform(lrSplit("n_docs", "prop_n"))
      .select(col("source"), col("n_docs"), col("vr").as("len_var"),
        col("sd").as("len_sd"), col("neyman_n"), col("prop_n"),
        (col("neyman_n") - col("prop_n")).as("shift"))
      .orderBy(col("source"))
  }

  private val q173Sql = {
    def lr(src: String, raw: String, out: String) =
      s"""${out}_al AS (
         |  SELECT *,
         |    CAST(($NeymanK * $raw) // CAST(sum($raw) OVER () AS HUGEINT) AS BIGINT)
         |      AS ${out}_b,
         |    CAST(($NeymanK * $raw) % CAST(sum($raw) OVER () AS HUGEINT) AS HUGEINT)
         |      AS ${out}_rem
         |  FROM $src
         |), ${out}_tp AS (
         |  SELECT *, $NeymanK - CAST(sum(${out}_b) OVER () AS BIGINT) AS ${out}_short,
         |         row_number() OVER (ORDER BY ${out}_rem DESC, source) AS ${out}_rk
         |  FROM ${out}_al
         |), ${out}_f AS (
         |  SELECT * EXCLUDE (${out}_b, ${out}_rem, ${out}_short, ${out}_rk),
         |         CAST(${out}_b + CASE WHEN ${out}_rk <= ${out}_short THEN 1 ELSE 0 END
         |              AS BIGINT) AS $out
         |  FROM ${out}_tp
         |)""".stripMargin
    s"""WITH d AS (
       |  SELECT source,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |              AS BIGINT) AS len
       |  FROM documents
       |), mo AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len) AS BIGINT) AS sx,
       |         sum(CAST(len AS HUGEINT) * len) AS sxx
       |  FROM d GROUP BY source
       |), vv AS (
       |  SELECT source, n_docs,
       |         CAST((n_docs * sxx - CAST(sx AS HUGEINT) * sx)
       |              // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS vr
       |  FROM mo
       |), sq AS (
       |  SELECT *, CAST(floor(sqrt(CAST(vr AS DOUBLE))) AS BIGINT) AS s0 FROM vv
       |), iq AS (
       |  SELECT source, n_docs, vr,
       |         s0 + (CASE WHEN (s0+1)*(s0+1) <= vr THEN 1 ELSE 0 END)
       |            - (CASE WHEN s0*s0 > vr THEN 1 ELSE 0 END) AS sd
       |  FROM sq
       |), wf AS (
       |  SELECT source, n_docs, vr, sd, CAST(n_docs AS HUGEINT) * sd AS w FROM iq
       |),
       |${lr("wf", "w", "neyman_n")},
       |${lr("neyman_n_f", "n_docs", "prop_n")}
       |SELECT source, n_docs, vr AS len_var, sd AS len_sd,
       |       neyman_n, prop_n, neyman_n - prop_n AS shift
       |FROM prop_n_f ORDER BY source""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q93_dsir_select", Some(q93Sql), q93),
    QuerySpec("q99_ppl_filter", Some(q99Sql), q99),
    QuerySpec("q105_token_budget", Some(q105Sql), q105),
    QuerySpec("q112_curriculum_phases", Some(q112Sql), q112, aqe = false),
    QuerySpec("q114_unimax_mix", Some(q114Sql), q114),
    QuerySpec("q144_doremi_reweight", Some(q144Sql), q144),
    QuerySpec("q145_token_cap", Some(q145Sql), q145),
    QuerySpec("q149_ccnet_buckets", Some(q149Sql), q149),
    QuerySpec("q161_temperature_mix", Some(q161Sql), q161),
    QuerySpec("q170_repetition_budget", Some(q170Sql), q170),
    QuerySpec("q173_neyman_allocation", Some(q173Sql), q173),
  )
}
