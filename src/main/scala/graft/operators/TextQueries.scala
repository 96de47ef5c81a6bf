package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (BASELINE.json
  * north_star: language-ID, quality scoring, token counting, document
  * fingerprinting). All are per-row narrow transforms + hash aggregations
  * — embarrassingly parallel at 100 TB; no shuffle except the final
  * (small) aggregations. Token ops use codegen'd higher-order array
  * functions, never UDFs.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "and", "of", "to")

  private def toks: Column = split(col("text"), " ")

  // ---------------------------------------------------------------- q20
  /** Token explode + count + HAVING (user_analytics.py:240-322 explode
    * kernel over testdata; FIXTURES.md §2.1). */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(toks).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
      .orderBy(col("cnt").desc, col("token"))

  private val q20Sql =
    """SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |) t WHERE token <> '' GROUP BY token HAVING count(*) >= 5
      |ORDER BY cnt DESC, token""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Per-document token counting + quality scoring: token/char counts,
    * distinct tokens, stopword ratio, and a deterministic quality score
    * (length/stopword mix). All double arithmetic is written with
    * identical association on both sides so results are bit-equal. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("long")
    val nUniq = size(array_distinct(toks)).cast("long")
    val stopCnt = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    val stopRatio = stopCnt.cast("double") / nTok
    val quality =
      lit(0.4) * least(lit(1.0), nTok.cast("double") / 50.0) +
        lit(0.4) * (lit(1.0) - stopRatio) +
        lit(0.2) * least(lit(1.0), col("n_chars").cast("double") / 500.0)
    // Det.ordered: the tokenize/distinct/filter chain is exchange-free
    // map work — a bare orderBy re-ran the whole scan for the range
    // sample (2× the query at every scale)
    Det.ordered(Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nUniq.as("n_uniq_tokens"),
        Det.rate(stopRatio).as("stop_ratio"),
        Det.rate(quality).as("quality")),
      col("doc_id"))
  }

  private val q21Sql =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
      | floor((CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
      |        / len(string_split(text, ' '))) * 1e6 + 0.5) / 1e6 AS stop_ratio,
      | floor((0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
      |      + 0.4 * (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
      |                     / len(string_split(text, ' ')))
      |      + 0.2 * least(1.0, CAST(n_chars AS DOUBLE) / 500.0)) * 1e6 + 0.5) / 1e6 AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Document fingerprinting: md5 content fingerprint per doc (md5 is
    * bit-identical in Spark and DuckDB, so the fingerprint itself is
    * oracle-checkable — unlike engine-specific hash()). */
  private def q22(s: SparkSession, dir: String): DataFrame =
    // Det.ordered: two full-text md5s per row, exchange-free — see q21
    Det.ordered(Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        md5(concat_ws(":", col("source"), col("lang"), col("text"))).as("keyed_fp")),
      col("doc_id"))

  private val q22Sql =
    """SELECT doc_id, md5(text) AS fp,
      | md5(source || ':' || lang || ':' || text) AS keyed_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Language-ID (marker-token heuristic) + confusion matrix vs the
    * labeled `lang` column. Marker sets are a deterministic stand-in for
    * an n-gram language model — the synthetic corpus shares one
    * English-ish vocabulary, so the interesting output is the confusion
    * matrix shape, not accuracy. Ties resolve by fixed chain order. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => t.isin(markers: _*)))
    val sEn = score(Seq("the", "a"))
    val sDe = score(Seq("der", "und"))
    val sEs = score(Seq("el", "y"))
    val sFr = score(Seq("le", "et"))
    val sZh = score(Seq("zh", "ni"))
    val predicted =
      when(sEn >= sDe && sEn >= sEs && sEn >= sFr && sEn >= sZh, "en")
        .when(sDe >= sEs && sDe >= sFr && sDe >= sZh, "de")
        .when(sEs >= sFr && sEs >= sZh, "es")
        .when(sFr >= sZh, "fr")
        .otherwise("zh")
    Tables.documents(s, dir)
      .select(col("lang"), predicted.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  private val q23Sql =
    """WITH scored AS (
      |  SELECT lang,
      |   len(list_filter(string_split(text, ' '), x -> x IN ('the','a'))) AS s_en,
      |   len(list_filter(string_split(text, ' '), x -> x IN ('der','und'))) AS s_de,
      |   len(list_filter(string_split(text, ' '), x -> x IN ('el','y'))) AS s_es,
      |   len(list_filter(string_split(text, ' '), x -> x IN ('le','et'))) AS s_fr,
      |   len(list_filter(string_split(text, ' '), x -> x IN ('zh','ni'))) AS s_zh
      |  FROM documents
      |), pred AS (
      |  SELECT lang,
      |   CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |        WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |        WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |        WHEN s_fr >= s_zh THEN 'fr'
      |        ELSE 'zh' END AS predicted
      |  FROM scored
      |)
      |SELECT lang, predicted, count(*) AS n FROM pred
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Per-language vocabulary profile: token count, vocabulary size,
    * hapax legomena (frequency-1 types), and type-token ratio — the
    * corpus-level statistics a language-mix report starts from. Two
    * hash aggs ((lang, token) → lang); only token partials shuffle. */
  private def q66(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .withColumn("ttr", Det.rate(col("vocab").cast("double") / col("n_tokens")))
      .orderBy(col("lang"))

  private val q66Sql =
    """SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  floor((CAST(count(*) AS DOUBLE) / sum(c)) * 1e6 + 0.5) / 1e6 AS ttr
      |FROM (
      |  SELECT lang, tok, count(*) AS c
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY lang, tok
      |)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q110
  /** Boilerplate segment removal profile — RefinedWeb/CCNet line-wise
    * dedup re-expressed for the newline-free testdata corpus: a doc is
    * segmented into non-overlapping W-token chunks (the "lines"), and a
    * chunk that recurs in ≥ 2 DISTINCT documents of the SAME source is
    * boilerplate (headers, footers, terms-of-service — the text that
    * repeats because the site template repeats, not because authors
    * wrote it twice). Output is the per-source removal profile: how
    * many segment instances a line-dedup pass would strip and the
    * resulting boilerplate ppm of the source's token volume.
    *
    * Scale: segmentation + hashing are scan-side array expressions
    * (contrast q90's stride-1 overlapping windows — stride-W here, so
    * the segment volume is tokens/W, not tokens); the only data that
    * ever shuffles is (source, 16-byte digest, doc_id) — never text —
    * and both aggregations hash on the same (source, h) key so the
    * second is exchange-free. The per-source frames meet at 20-row
    * aggregates. At 100 TB the df count is the same shuffle a term-df
    * computation costs, on a W× smaller row count. */
  private[graft] val BoilerW = 3

  /** THE stride-W chunk-hash kernel, as one expression string over a
    * token-array column `t` — q110 (batch) and the `BoilerStream`
    * twin in src/test (incremental) both build on this
    * single text, so their segmentations are byte-identical by
    * construction: the streaming prefix-equivalence pin depends on it.
    * Callers must guard `size(t) >= w` (sequence() would descend). */
  private[graft] def chunkHashesExpr(w: Int): String =
    // native stride-w digest kernel: count (size-w) DIV w + 1 ==
    // size DIV w for size >= w (callers guard), blocks byte-identical
    // to the md5(array_join(slice)) HOF chain (WordGramsSpec)
    s"graft_gram_md5s(t, $w, $w)"

  /** Per-doc stride-W chunk digests as a STANDING ARTIFACT — q110
    * (source boilerplate profile) and q146 (per-doc paragraph-dedup
    * removal) derive the IDENTICAL (doc_id, source, n_toks, hs) frame
    * and each re-ran the scan + split + hash pass per query. Full
    * W-token chunks only; a trailing partial chunk is content, never
    * boilerplate-eligible (it can't recur structurally). The digests
    * are the md5 hex strings both oracles state, so hashes are
    * unchanged by construction; what stands is digests and counts,
    * never text. */
  private[operators] def docChunks(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_chunks")(docChunksBuild(s, dir))

  /** The builder (exposed for the plan pin: one spread corpus pass,
    * scan-side hashing, no join). */
  private[operators] def docChunksBuild(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("n_toks"),
        expr(
          s"""CASE WHEN size(t) >= $BoilerW THEN ${chunkHashesExpr(BoilerW)}
             |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin).as("hs"))

  private def q110(s: SparkSession, dir: String): DataFrame = {
    // the standing doc_chunks artifact replaced the old per-query
    // persist + collect-to-LocalRelation dance (Artifacts.pinned keeps
    // the old single-pass behavior under `spark.graft.artifacts=off`)
    Artifacts.pinned(s, docChunks(s, dir)) { docs =>
    val segs = docs.select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
    val df = segs.groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("occ"))
    val perSrc = df.groupBy(col("source"))
      .agg(
        sum(col("occ")).as("n_segments"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boiler_segs"),
        (lit(BoilerW.toLong) * sum(when(col("df") >= 2, col("occ")).otherwise(0L)))
          .as("removed_tokens"))
    val tot = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
    tot.join(perSrc, Seq("source"))
      .withColumn("boiler_ppm",
        expr("(removed_tokens * 1000000) DIV total_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("n_segments"),
        col("n_boiler_segs"), col("removed_tokens"), col("boiler_ppm"))
      .orderBy(col("source"))
    }
  }

  private val q110Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         generate_subscripts(string_split(text, ' '), 1) AS ord,
       |         unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), doc_tok AS (
       |  SELECT source, doc_id, count(*) AS n_toks FROM toks GROUP BY source, doc_id
       |), segs AS (
       |  SELECT doc_id, source, CAST(floor((ord - 1) / $BoilerW) AS BIGINT) AS seg,
       |         md5(string_agg(tok, ' ' ORDER BY ord)) AS h, count(*) AS w
       |  FROM toks GROUP BY doc_id, source, seg
       |), f AS (
       |  SELECT source, h, count(DISTINCT doc_id) AS df, count(*) AS occ
       |  FROM segs WHERE w = $BoilerW GROUP BY source, h
       |), per_src AS (
       |  SELECT source, CAST(sum(occ) AS BIGINT) AS n_segments,
       |         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_segs,
       |         CAST($BoilerW * sum(CASE WHEN df >= 2 THEN occ ELSE 0 END) AS BIGINT)
       |           AS removed_tokens
       |  FROM f GROUP BY source
       |), tot AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens
       |  FROM doc_tok GROUP BY source
       |)
       |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs, t.total_tokens,
       |       p.n_segments, p.n_boiler_segs, p.removed_tokens,
       |       CAST((p.removed_tokens * 1000000) // t.total_tokens AS BIGINT) AS boiler_ppm
       |FROM tot t JOIN per_src p ON t.source = p.source
       |ORDER BY t.source""".stripMargin

  // --------------------------------------------------------------- q111
  /** Token-distribution Shannon entropy gate: per doc,
    * H = −Σ (c/N)·ln(c/N) over the doc's own token frequencies, in exact
    * integer MILLI-NATS via the graft_ln_small ladder (the q99/q100
    * arithmetic — both engines score the identical quantized ln, so the
    * gate is hash-exact, no float drift). Low entropy = a repetitive
    * template/spam doc even when q56's top-token and dup-bigram signals
    * miss it (entropy reads the WHOLE distribution, not its head).
    * keep = H ≥ 2.8 nats, the corpus' ~20th percentile.
    *
    * Scale: zero-shuffle per-doc math — the frequency table is an
    * sorted run-length fold over the doc's own token array (one
    * array_sort + one pass — O(N log N) per doc at any vocab), the
    * entropy sum folds inside the same projection, and the ladder is
    * a native codegen expression. 100 TB of docs is 100 TB of
    * embarrassingly parallel scan; nothing exchanges until the caller
    * aggregates the keep bits.
    *
    * The `greatest(0, …)` clamp: every c < N term is ≤ −112 mnats, so
    * a genuinely mixed doc is strictly positive; only the degenerate
    * single-type doc (true H = 0) can go negative through the ladder's
    * +112 c = N class midpoint, and the clamp pins exactly it — which
    * also keeps the integer division on non-negative ground, where
    * Spark's trunc DIV and DuckDB's floor // agree. */
  private[graft] val EntropyKeepMnats = 2800L

  /** The sorted run-length entropy fold as ONE expression string over
    * a token-array expression `t` and a BIGINT count expression `n` —
    * a struct('ssum' = Σ c·mnat(c, N), 'vocab'). One sorted pass is
    * O(N log N) per doc at any vocabulary (an array_distinct +
    * filter-count variant is O(U·N), quadratic on long high-vocab
    * docs); each closing run of length c adds c·mnat(c, N), the
    * finisher closes the last run. q111 (gate query), q70's
    * low_entropy funnel stage, and the scalar twin in
    * `QualityStream.scoreOne` (src/test) are held to this same
    * arithmetic. */
  private[graft] def entropyFoldExpr(t: String, n: String): String =
    s"""aggregate(array_sort($t),
       |  named_struct('prev', CAST(NULL AS STRING),
       |               'run', CAST(0 AS BIGINT),
       |               'ssum', CAST(0 AS BIGINT),
       |               'vocab', CAST(0 AS BIGINT)),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
       |    'ssum', acc.ssum + IF(x <=> acc.prev OR acc.run = 0L, 0L,
       |                          acc.run * graft_ln_small(acc.run, $n)),
       |    'vocab', acc.vocab + IF(x <=> acc.prev, 0L, 1L)),
       |  acc -> named_struct(
       |    'ssum', acc.ssum + IF(acc.run = 0L, 0L,
       |                          acc.run * graft_ln_small(acc.run, $n)),
       |    'vocab', acc.vocab))""".stripMargin

  /** Per-doc token entropy as a STANDING ARTIFACT — the sorted-run
    * entropy fold is a heavy per-doc map pass that q111 and the
    * q120/q130 gate frame each re-ran per query. One build emits the
    * narrow (doc_id, n_tokens, vocab, entropy_mnat) frame; consumers
    * threshold/rollup it corpus-scan-free. The oracle re-derives
    * inline, hashes unchanged; ArtifactsSpec pins artifact == fresh
    * build. */
  private[operators] def docEntropy(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_entropy")(docEntropyBuild(s, dir))

  /** The builder (exposed for the plan pin: the zero-exchange scan-
    * local fold discipline lives HERE). */
  private[operators] def docEntropyBuild(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("f", expr(entropyFoldExpr("t", "n")))
      .select(
        col("doc_id"),
        col("n").as("n_tokens"),
        col("f.vocab").as("vocab"),
        expr("greatest(CAST(0 AS BIGINT), -f.ssum) DIV n").as("entropy_mnat"))

  private def q111(s: SparkSession, dir: String): DataFrame =
    docEntropy(s, dir)
      .withColumn("keep", col("entropy_mnat") >= EntropyKeepMnats)
      .orderBy(col("doc_id"))

  private val q111Sql = {
    val ladder = EventQueries.lnSmallWeightSql("c.c", "nn.n")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), c AS (
       |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
       |), nn AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS vocab
       |  FROM c GROUP BY doc_id
       |), s AS (
       |  SELECT c.doc_id, CAST(sum(c.c * $ladder) AS BIGINT) AS ssum
       |  FROM c JOIN nn ON c.doc_id = nn.doc_id GROUP BY c.doc_id
       |)
       |SELECT nn.doc_id, nn.n AS n_tokens, CAST(nn.vocab AS BIGINT) AS vocab,
       |       CAST(greatest(0, -s.ssum) // nn.n AS BIGINT) AS entropy_mnat,
       |       (greatest(0, -s.ssum) // nn.n) >= $EntropyKeepMnats AS keep
       |FROM nn JOIN s ON nn.doc_id = s.doc_id
       |ORDER BY nn.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q118
  /** Zipf coverage curve: what share of the corpus' running tokens the
    * top-K vocabulary types cover, for a ladder of K — the number that
    * sizes a tokenizer vocabulary / frequency cutoff (and the
    * corpus-level read of q66's per-language type-token profile).
    * Exact integers throughout: rank by (count desc, token), running
    * coverage at rank min(K, V), coverage as integer ppm.
    *
    * Scale: the corpus collapses to the |V|-row type-count aggregate
    * first (map-side combined); the global rank window runs over
    * VOCABULARY rows, not corpus rows — bounded by |V|, and on an
    * open 100 TB vocabulary the same q99 move applies (pre-filter to
    * counts above a floor before ranking; every K here sits far above
    * any such floor). The K ladder joins as a 4-row broadcast. */
  private val CoverageKs = Seq(100L, 300L, 1000L, 3000L)

  private def q118(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byFreq = Window.partitionBy().orderBy(col("c").desc, col("token"))
    val whole = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val ranked = Tables.documents(s, dir)
      .select(explode(toks).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(byFreq).cast("long"))
      .withColumn("cum",
        sum(col("c")).over(byFreq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("vocab", count(lit(1)).over(whole))
      .withColumn("total", sum(col("c")).over(whole))
    ranked.join(broadcast(CoverageKs.toDF("k")),
        col("rk") === least(col("k"), col("vocab")))
      .select(col("k"), col("vocab"), col("total"),
        col("cum").as("covered_tokens"))
      .withColumn("coverage_ppm",
        expr("(covered_tokens * 1000000) div total"))
      .orderBy(col("k"))
  }

  private val q118Sql =
    s"""WITH t AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
       |), c AS (
       |  SELECT token, count(*) AS c FROM t WHERE token <> '' GROUP BY token
       |), r AS (
       |  SELECT token, c,
       |         CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS rk,
       |         CAST(sum(c) OVER (ORDER BY c DESC, token
       |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |         CAST(count(*) OVER () AS BIGINT) AS vocab,
       |         CAST(sum(c) OVER () AS BIGINT) AS total
       |  FROM c
       |), ks AS (
       |  SELECT CAST(unnest([${CoverageKs.mkString(", ")}]) AS BIGINT) AS k
       |)
       |SELECT ks.k, r.vocab, r.total, r.cum AS covered_tokens,
       |       CAST((r.cum * 1000000) // r.total AS BIGINT) AS coverage_ppm
       |FROM r JOIN ks ON r.rk = least(ks.k, r.vocab)
       |ORDER BY ks.k""".stripMargin

  // ---------------------------------------------------------------- q134
  /** The per-(source, n, gram) count table for n = 1..3 as a STANDING
    * ARTIFACT — the substrate of the n-gram-statistics family. q134
    * (diversity) and q167 (Kneser-Ney discounts) each ran the IDENTICAL
    * flattened three-order gram explode over the whole corpus: at the
    * 100× replica those were the top two warm lines (35 + 33 s of pure
    * repeated scan work). The count table is corpus state exactly like
    * [[srcVocab]] — gram-VOCABULARY-scale rows (Heaps-bounded, far
    * below token count), corpus-scale only on the build's map side —
    * so it is built once per dataset and every consumer reads rollups.
    *
    * Each doc emits all three gram lengths from one split via a
    * flattened array-of-structs (guarded per length — sequence(0,
    * size-n) on a short doc would RUN BACKWARDS and fabricate grams),
    * then ONE shuffle keyed (source, n, gram) with map-side combine.
    * Tokens are the non-empty whitespace tokens (the [[docSpine]] /
    * q118 / q167 convention; q134 historically split raw — identical
    * on any corpus without empty tokens, and its oracle now states the
    * filtered form explicitly). */
  private[operators] val gramStructsExpr: String =
    // native (n, gram) stream for n = 1..3 — one tokenBytes pass per
    // doc instead of three interpreted transform/slice/concat_ws arms
    // (WordGramsSpec pins it against the HOF form)
    "graft_gram_structs(t, 3)"

  private[operators] def gramCounts(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "gram_counts")(gramCountsBuild(s, dir))

  /** The builder, exposed so the plan spec can pin the one-exchange
    * discipline on the BUILD plan (the registered consumers read the
    * artifact and must not scan the corpus at all). */
  private[operators] def gramCountsBuild(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("source"),
        expr("filter(split(text, ' '), x -> x <> '')").as("t"))
      .select(col("source"), explode(expr(gramStructsExpr)).as("x"))
      .groupBy(col("source"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))

  /** Shared oracle CTE: the same (source, n, gram) → count table. */
  private val gramCountsSql = {
    def arm(n: Int) =
      s"""SELECT source, $n AS n,
         |       unnest(list_transform(generate_series(0, len(t)-$n),
         |              i -> array_to_string(list_slice(t, i+1, i+$n), ' '))) AS g
         |FROM t WHERE len(t) >= $n""".stripMargin
    s"""t AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |       FROM documents),
       |g AS (${(1 to 3).map(arm).mkString("\n", "\nUNION ALL\n", "\n")}),
       |gc AS (SELECT source, n, g, CAST(count(*) AS BIGINT) AS c
       |       FROM g GROUP BY 1, 2, 3)""".stripMargin
  }

  /** Per-source distinct-n-gram diversity (n = 1, 2, 3) — the
    * "distinct-n" corpus-diversity block of a dataset card (the
    * corpus-level form of generation diversity metrics; low distinct-2/
    * distinct-3 flags templated or machine-expanded text). Complements
    * the existing reads without overlap: q66 is unigram TTR on the LANG
    * axis, q78 histograms CROSS-DOC duplicated 8-grams, q118 sizes the
    * top-K vocabulary — none measures within-source bigram/trigram
    * repetition, which is where template spam concentrates.
    *
    * Reads the [[gramCounts]] standing artifact: total = Σc and
    * distinct = row count per (source, n) — the (source, n, gram) key
    * makes countDistinct a plain count, so the rollup is one map-side-
    * combined aggregate over vocabulary-scale rows, no corpus scan.
    * distinct_ppm = 10⁶·distinct div total, exact integers. */
  private def q134(s: SparkSession, dir: String): DataFrame =
    gramCounts(s, dir)
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      .withColumn("distinct_ppm",
        expr("distinct_grams * 1000000L DIV total_grams"))
      .orderBy(col("source"), col("n"))

  private val q134Sql =
    s"""WITH $gramCountsSql
       |SELECT source, n, CAST(sum(c) AS BIGINT) AS total_grams,
       |       CAST(count(*) AS BIGINT) AS distinct_grams,
       |       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS distinct_ppm
       |FROM gc GROUP BY 1, 2 ORDER BY source, n""".stripMargin

  // --------------------------------------------------------------- q147
  /** Gopher-rule rejection matrix (Rae et al. 2021 §A.1.1, the
    * heuristic quality filter FineWeb/RefinedWeb inherit): the cheap
    * structural rules applied BEFORE any model-based gate, reported
    * rule-by-rule so the filter is auditable — per source, how many
    * docs each rule hits, how many any rule rejects, and how many
    * fall to ≥ 2 rules at once (rules that only ever co-fire are
    * redundant; q120 answers the same question for the MODEL gates).
    *
    * The four rules, thresholds calibrated so each genuinely fires on
    * the synthetic corpus (Gopher's own knobs assume natural prose —
    * e.g. its 50-word minimum would reject 40% of this corpus):
    * word count < 20 (too_short) or > 90 (too_long — Gopher bounds
    * both ends), mean word length outside [3.8, 5.2] chars (exact
    * milli: (chars·1000) DIV words with chars = len(text)−(words−1)),
    * and < 2 stopword occurrences over {the, a} (the closed vocab's
    * only function words; Gopher's list has 8).
    *
    * Scale: pure scan-side arithmetic on each row + one
    * map-side-combined |S|-row aggregate — the cheapest possible
    * query shape, which is the POINT of heuristic rules: they run
    * first because they cost one pass, and the matrix says what the
    * expensive model gates still have to catch. */
  private val GopherMinWords = 20L
  private val GopherMaxWords = 90L
  private val GopherMwlLo = 3800L
  private val GopherMwlHi = 5200L
  private val GopherMinStops = 2L

  private def q147(s: SparkSession, dir: String): DataFrame = {
    val hits = Tables.documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("t"), col("text"))
      .select(col("source"),
        size(col("t")).cast("long").as("n"),
        (length(col("text")) - (size(col("t")) - 1)).cast("long").as("chars"),
        size(expr("filter(t, x -> x = 'the' OR x = 'a')")).cast("long").as("stops"))
      .select(col("source"),
        when(col("n") < GopherMinWords, 1L).otherwise(0L).as("r_short"),
        when(col("n") > GopherMaxWords, 1L).otherwise(0L).as("r_long"),
        when(expr("(chars * 1000) DIV n") < GopherMwlLo ||
          expr("(chars * 1000) DIV n") > GopherMwlHi, 1L).otherwise(0L).as("r_mwl"),
        when(col("stops") < GopherMinStops, 1L).otherwise(0L).as("r_stop"))
      .withColumn("n_rules", col("r_short") + col("r_long") + col("r_mwl") + col("r_stop"))
    hits.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r_short")).as("short_hits"),
        sum(col("r_long")).as("long_hits"),
        sum(col("r_mwl")).as("mwl_hits"),
        sum(col("r_stop")).as("stop_hits"),
        sum(when(col("n_rules") >= 1, 1L).otherwise(0L)).as("reject_any"),
        sum(when(col("n_rules") >= 2, 1L).otherwise(0L)).as("reject_multi"))
      .withColumn("reject_ppm", expr("(reject_any * 1000000) DIV n_docs"))
      .orderBy(col("source"))
  }

  private val q147Sql =
    s"""WITH h AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
       |           AS chars,
       |         CAST(len(list_filter(string_split(text, ' '),
       |                              x -> x = 'the' OR x = 'a')) AS BIGINT) AS stops
       |  FROM documents
       |), r AS (
       |  SELECT source,
       |         CASE WHEN n < $GopherMinWords THEN 1 ELSE 0 END AS r_short,
       |         CASE WHEN n > $GopherMaxWords THEN 1 ELSE 0 END AS r_long,
       |         CASE WHEN (chars * 1000) // n < $GopherMwlLo
       |                OR (chars * 1000) // n > $GopherMwlHi
       |              THEN 1 ELSE 0 END AS r_mwl,
       |         CASE WHEN stops < $GopherMinStops THEN 1 ELSE 0 END AS r_stop
       |  FROM h
       |), m AS (
       |  SELECT *, r_short + r_long + r_mwl + r_stop AS n_rules FROM r
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(r_short) AS BIGINT) AS short_hits,
       |       CAST(sum(r_long) AS BIGINT) AS long_hits,
       |       CAST(sum(r_mwl) AS BIGINT) AS mwl_hits,
       |       CAST(sum(r_stop) AS BIGINT) AS stop_hits,
       |       CAST(sum(CASE WHEN n_rules >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS reject_any,
       |       CAST(sum(CASE WHEN n_rules >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS reject_multi,
       |       (CAST(sum(CASE WHEN n_rules >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |        * 1000000) // count(*) AS reject_ppm
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q163
  /** Heaps'-law vocabulary-growth fit (Heaps 1978; the V(N) = K·N^β
    * power law every tokenizer-sizing and dedup-planning estimate
    * leans on): per source, walk the corpus in ingest order (doc_id),
    * record (cumulative tokens N, cumulative distinct vocabulary V)
    * at C = 8 evenly-spaced document checkpoints, and least-squares
    * fit log₂V = log₂K + β·log₂N over those points — exactly, in
    * integers: both logs through graft_log2q20 (Q20 fixed point,
    * bit-identical in DuckDB via [[graft.functions.Log2Kernel.cteChain]]),
    * the regression in Long sums (bounded: 8 points × (62·2²⁰)² per
    * term), the two final divisions in DECIMAL(38,0)/HUGEINT with the
    * remainder-removal idiom ((a − pmod(a,b)) div b), which makes
    * floor and truncate agree so Spark's `div` and DuckDB's `//`
    * floor the same bits even for the (possible) negative intercept.
    * β ≈ 0 flags a closed/templated vocabulary (V saturates — this
    * synthetic corpus fits at β ≈ 0.01-0.02), natural corpora sit at
    * β ≈ 0.4-0.6, and β → 1 flags unbounded novelty (serial IDs,
    * noise). Emits per source: doc/token/vocab totals, points used,
    * beta_ppm, log2k_micro.
    *
    * Scale: NO corpus-order window — cumulative values at the 8
    * checkpoints are conditional aggregates (row joins the ≤8-row
    * per-source checkpoint list on rk ≤ crk, then map-side-combined
    * groupBy collapses to 8·|S| rows before the exchange). The dense
    * per-source rank is the one sequential ingredient; it runs as a
    * window over the NARROW (source, doc_id) projection (16 B/doc)
    * and joins back by doc_id, so token arrays never pass through
    * the per-source sort. The term-first-appearance aggregate is the
    * usual (source, term)-keyed shuffle — vocabulary-scale state,
    * corpus-scale only on the map side. */
  private val HeapsC = 8L

  /** Shared exact log-log least-squares over per-source Q20 points
    * (source, x, y): per-source sums in Long (bounded by ≤ ~10 points
    * × (62·2²⁰)² per term), slope and intercept as floor-exact
    * integers — slope_ppm = ⌊10⁶·(nΣxy − ΣxΣy)/(nΣx² − (Σx)²)⌋ and
    * icept_micro = ⌊10⁶·(Σy − slope·Σx)/(n·2²⁰)⌋ — computed in
    * DECIMAL(38,0) with the remainder-removal idiom
    * ((a − pmod(a,b)) div b), which makes floor and truncate agree so
    * Spark's `div` and DuckDB's `//` (which truncates) floor the same
    * bits even for negative numerators (Zipf slopes, intercepts).
    * Degenerate spread (den = 0: < 2 distinct x) yields nulls. */
  private[operators] def log2Fit(pts: DataFrame): DataFrame =
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .withColumn("num", expr("n_pts * sxy - sx * sy"))
      .withColumn("den", expr("n_pts * sxx - sx * sx"))
      .withColumn("slope_ppm",
        expr("""CASE WHEN den > 0 THEN CAST(
                |  (CAST(num AS DECIMAL(38,0)) * 1000000
                |   - pmod(CAST(num AS DECIMAL(38,0)) * 1000000, den)) DIV den
                |  AS BIGINT) END""".stripMargin))
      .withColumn("icept_micro",
        expr("""CASE WHEN den > 0 THEN CAST(
                |  ((CAST(sy AS DECIMAL(38,0)) * den - CAST(num AS DECIMAL(38,0)) * sx) * 1000000
                |   - pmod((CAST(sy AS DECIMAL(38,0)) * den - CAST(num AS DECIMAL(38,0)) * sx) * 1000000,
                |          CAST(n_pts AS DECIMAL(38,0)) * den * 1048576))
                |  DIV (CAST(n_pts AS DECIMAL(38,0)) * den * 1048576)
                |  AS BIGINT) END""".stripMargin))

  /** DuckDB twin of [[log2Fit]]: CTEs fit/ft/ex/fx over `$ptsCte`
    * (columns source, `$xCol`, `$yCol`); `fx` carries (source, n_pts,
    * slope_ppm, icept_micro). HUGEINT + the same remainder-removal
    * floor idiom. */
  private[operators] def log2FitSql(ptsCte: String, xCol: String, yCol: String): String =
    s""", fit AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_pts,
       |         CAST(sum($xCol) AS BIGINT) AS sx,
       |         CAST(sum($yCol) AS BIGINT) AS sy,
       |         CAST(sum($xCol * $xCol) AS BIGINT) AS sxx,
       |         CAST(sum($xCol * $yCol) AS BIGINT) AS sxy
       |  FROM $ptsCte GROUP BY source
       |), ft AS (
       |  SELECT source, n_pts, sx, sy,
       |         n_pts * sxy - sx * sy AS num,
       |         n_pts * sxx - sx * sx AS den
       |  FROM fit
       |), ex AS (
       |  SELECT source, n_pts, num, den,
       |         CAST(num AS HUGEINT) * 1000000 AS bnum,
       |         (CAST(sy AS HUGEINT) * den - CAST(num AS HUGEINT) * sx) * 1000000
       |           AS knum,
       |         CAST(n_pts AS HUGEINT) * den * 1048576 AS kden
       |  FROM ft
       |), fx AS (
       |  SELECT source, n_pts,
       |         CASE WHEN den > 0 THEN CAST(
       |           (bnum - ((bnum % den + den) % den)) // den AS BIGINT)
       |         END AS slope_ppm,
       |         CASE WHEN den > 0 THEN CAST(
       |           (knum - ((knum % kden + kden) % kden)) // kden AS BIGINT)
       |         END AS icept_micro
       |  FROM ex
       |)""".stripMargin

  /** Per-source ingest spine as a STANDING ARTIFACT: (source, doc_id,
    * rk = dense per-source ingest rank, tok = token count) — the
    * narrow corpus-order substrate every growth/length statistic
    * reads. The rank window runs ONCE per corpus here (over the
    * narrow projection, never token arrays) instead of once per
    * consumer query. */
  private[operators] def docSpine(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_spine")(docSpineBuild(s, dir))

  /** The spine builder, exposed so TextGatesPlanShapeSpec can pin the
    * narrow-rank-window discipline on the BUILD plan (the token
    * counting projects text away BEFORE the per-source sort). */
  private[operators] def docSpineBuild(s: SparkSession, dir: String): DataFrame =
    spineOf(Tables.spread(Tables.documents(s, dir), col("doc_id")))

  /** The spine of any (source, doc_id, text) frame — HeapsLawSpec
    * feeds planted corpora through this and [[vocabOf]]. */
  private[operators] def spineOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("source"), col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("tok"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
  }

  /** Per-source vocabulary as a STANDING ARTIFACT: (source, term,
    * c = collection frequency, fd = first-appearance doc_id) — ONE
    * (source, term)-keyed shuffle serves the growth fit (q163 needs
    * fd), the Zipf fit (q164 needs c ranks) and the Good-Turing audit
    * (q165 needs the c histogram), which each re-ran the explode +
    * count from scratch before round 10. Vocabulary-scale state;
    * corpus-scale only on the map side. */
  private[operators] def srcVocab(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "src_vocab")(
      vocabOf(Tables.spread(Tables.documents(s, dir), col("doc_id"))))

  /** The per-source vocabulary of any (source, doc_id, text) frame. */
  private[operators] def vocabOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("doc_id"), explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("fd"))

  /** The per-source vocabulary GROWTH CURVE at the HeapsC checkpoint
    * ladder — (source, crk, d, nn, v), bounded (≤ HeapsC·|S| rows), as
    * a memoized LocalRelation: the curve is corpus state (the
    * q43-pctFrame precedent) and the registered q163 just fits it, so
    * its warm plan is literals + one aggregate. */
  private[operators] def growthCurve(s: SparkSession, dir: String): DataFrame =
    Artifacts.localFrame(s, dir, "heaps_growth")(
      growthFrom(s, docSpine(s, dir), srcVocab(s, dir)))

  private def q163(s: SparkSession, dir: String): DataFrame =
    fitGrowth(growthCurve(s, dir))

  /** Growth-curve derivation off the spine/vocab frames. The rank
    * ladder translates to doc_id thresholds with a FILTER on the
    * spine's standing rank (rk = crk) — no window anywhere in this
    * plan; cumulative token/vocab values at the ≤ HeapsC checkpoints
    * are conditional aggregates against the tiny threshold frame. */
  private[operators] def growthFrom(s: SparkSession, spine: DataFrame, vocab: DataFrame): DataFrame = {
    import s.implicits._
    val dF = spine.groupBy(col("source")).agg(count(lit(1)).as("d"))
    val ladder = dF.crossJoin((1L to HeapsC).toDF("c"))
      .select(col("source").as("lsrc"), col("d"),
        greatest(lit(1L), expr(s"(d * c) DIV $HeapsC")).as("crk"))
      .distinct()
    val cps = spine
      .join(ladder, col("source") === col("lsrc") && col("rk") === col("crk"))
      .select(col("lsrc").as("csrc"), col("crk"), col("d"),
        col("doc_id").as("cdoc"))
    val npt = spine
      .join(cps, col("source") === col("csrc") && col("rk") <= col("crk"))
      .groupBy(col("csrc"), col("crk"), col("d")).agg(sum(col("tok")).as("nn"))
    val vpt = vocab
      .join(cps, col("source") === col("csrc") && col("fd") <= col("cdoc"))
      .groupBy(col("csrc").as("vsrc"), col("crk").as("vrk"))
      .agg(count(lit(1)).as("v"))
    npt
      .join(vpt, col("csrc") === col("vsrc") && col("crk") === col("vrk"), "left")
      .select(col("csrc").as("source"), col("crk"), col("d"), col("nn"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  /** The exact Q20 log-log fit + totals over a growth curve. */
  private[operators] def fitGrowth(curve: DataFrame): DataFrame = {
    val pts = curve
      .filter(col("nn") >= 1L && col("v") >= 1L)
      .withColumn("x", expr("graft_log2q20(nn, 1L)"))
      .withColumn("y", expr("graft_log2q20(v, 1L)"))
    val fit = log2Fit(pts.select(col("source"), col("x"), col("y")))
    val totals = pts.filter(col("crk") === col("d"))
      .select(col("source"), col("d").as("n_docs"),
        col("nn").as("n_tokens"), col("v").as("vocab"))
    totals.join(fit, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("n_pts"), col("slope_ppm").as("beta_ppm"),
        col("icept_micro").as("log2k_micro"))
      .orderBy(col("source"))
  }

  private val q163Sql = {
    val logs = graft.functions.Log2Kernel.cteChain(
      "pts", "lg", Seq(("lx", "nn", "CAST(1 AS BIGINT)"), ("ly", "v", "CAST(1 AS BIGINT)")))
    s"""WITH d AS MATERIALIZED (
       |  SELECT source, doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
       |              AS BIGINT) AS rk
       |  FROM documents
       |), spine AS MATERIALIZED (
       |  SELECT source, rk, CAST(len(t) AS BIGINT) AS tok FROM d
       |), firsts AS (
       |  SELECT source, term, min(rk) AS fr FROM (
       |    SELECT source, rk, unnest(t) AS term FROM d
       |  ) GROUP BY source, term
       |), dd AS MATERIALIZED (
       |  SELECT source, CAST(max(rk) AS BIGINT) AS d_docs FROM spine GROUP BY source
       |), cps AS MATERIALIZED (
       |  SELECT DISTINCT dd.source AS csrc,
       |         greatest(1, (dd.d_docs * cs.c) // $HeapsC) AS crk
       |  FROM dd CROSS JOIN (SELECT unnest(generate_series(1, $HeapsC)) AS c) cs
       |), npt AS (
       |  SELECT cp.csrc, cp.crk, CAST(sum(s.tok) AS BIGINT) AS nn
       |  FROM spine s JOIN cps cp ON cp.csrc = s.source AND s.rk <= cp.crk
       |  GROUP BY cp.csrc, cp.crk
       |), vpt AS (
       |  SELECT cp.csrc AS vsrc, cp.crk AS vrk, CAST(count(*) AS BIGINT) AS v
       |  FROM firsts f JOIN cps cp ON cp.csrc = f.source AND f.fr <= cp.crk
       |  GROUP BY cp.csrc, cp.crk
       |), pts AS MATERIALIZED (
       |  SELECT npt.csrc AS source, npt.crk, npt.nn, COALESCE(vpt.v, 0) AS v
       |  FROM npt LEFT JOIN vpt ON vpt.vsrc = npt.csrc AND vpt.vrk = npt.crk
       |  WHERE npt.nn >= 1 AND COALESCE(vpt.v, 0) >= 1
       |)$logs${log2FitSql("lg", "lx_q20", "ly_q20")}, tot AS (
       |  SELECT p.source, dd.d_docs AS n_docs, p.nn AS n_tokens, p.v AS vocab
       |  FROM pts p JOIN dd ON dd.source = p.source AND p.crk = dd.d_docs
       |)
       |SELECT t.source, t.n_docs, t.n_tokens, t.vocab, e.n_pts,
       |       e.slope_ppm AS beta_ppm, e.icept_micro AS log2k_micro
       |FROM tot t JOIN fx e ON e.source = t.source
       |ORDER BY t.source""".stripMargin
  }

  // --------------------------------------------------------------- q164
  /** Zipf rank-frequency slope (Zipf 1949): per source, rank the
    * vocabulary by (count desc, term) and fit log₂f = log₂c − s·log₂r
    * over the log-spaced rank panel r ∈ {1,2,4,…,64} — the dual of
    * q163 (vocabulary GROWTH) on the frequency axis, and the
    * quantitative read of q118's coverage ladder: s ≈ 1 is the
    * natural-language law, s far below 1 flags a flattened
    * (templated / closed) distribution, s far above flags a
    * head-heavy one. Same exact machinery as q163: graft_log2q20
    * points, [[log2Fit]] integer regression, floor-portable
    * divisions; the slope is NEGATIVE for any Zipfian source, so the
    * fit exercises the signed floor path (zipf_slope_ppm ≈ −10⁶·s).
    *
    * Scale: the corpus collapses to the (source, term) count
    * aggregate first (map-side combined); the rank window runs over
    * VOCABULARY rows within each source — and only ranks ≤ 64
    * survive, so on an open 100 TB vocabulary the q99/q118 move
    * applies unchanged (pre-filter to counts above a floor before
    * ranking; rank 64's count sits far above any such floor). The
    * fit is ≤ 7 points per source. */
  private val ZipfRanks = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L)

  private def q164(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = srcVocab(s, dir) // standing (source, term, c) artifact
    val byFreq = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("term"))
    val pts = counts
      .withColumn("rk", row_number().over(byFreq).cast("long"))
      .filter(col("rk").isInCollection(ZipfRanks))
      .select(col("source"), col("rk"), col("c"),
        expr("graft_log2q20(rk, 1L)").as("x"),
        expr("graft_log2q20(c, 1L)").as("y"))
    val tot = counts.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        max(col("c")).as("top_freq"))
    tot.join(log2Fit(pts), Seq("source"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("top_freq"),
        col("n_pts"), col("slope_ppm").as("zipf_slope_ppm"),
        col("icept_micro").as("log2c_micro"))
      .orderBy(col("source"))
  }

  private val q164Sql = {
    val logs = graft.functions.Log2Kernel.cteChain(
      "pts", "lg", Seq(("lx", "rk", "CAST(1 AS BIGINT)"), ("ly", "c", "CAST(1 AS BIGINT)")))
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
       |), c AS MATERIALIZED (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM t WHERE term <> '' GROUP BY source, term
       |), r AS (
       |  SELECT source, c,
       |         CAST(row_number() OVER (PARTITION BY source
       |                                 ORDER BY c DESC, term) AS BIGINT) AS rk
       |  FROM c
       |), pts AS (
       |  SELECT source, rk, c FROM r
       |  WHERE rk IN (${ZipfRanks.mkString(", ")})
       |)$logs${log2FitSql("lg", "lx_q20", "ly_q20")}, tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |         CAST(sum(c) AS BIGINT) AS n_tokens,
       |         CAST(max(c) AS BIGINT) AS top_freq
       |  FROM c GROUP BY source
       |)
       |SELECT t.source, t.vocab, t.n_tokens, t.top_freq, f.n_pts,
       |       f.slope_ppm AS zipf_slope_ppm, f.icept_micro AS log2c_micro
       |FROM tot t JOIN fx f ON f.source = t.source
       |ORDER BY t.source""".stripMargin
  }

  // --------------------------------------------------------------- q165
  /** Good-Turing coverage + Chao1 richness (Good 1953; Chao 1984) —
    * the "how much vocabulary haven't we seen yet" numbers a corpus
    * datasheet reports next to q163's growth exponent: per source,
    * the hapax (once-seen) and dis legomena (twice-seen) counts, the
    * Good-Turing unseen-probability mass N₁/N and its complement
    * (the coverage estimate), the hapax share of the vocabulary, and
    * the bias-corrected Chao1 richness floor
    * V + N₁(N₁−1)/(2(N₂+1)) — the projected TRUE vocabulary size the
    * corpus is sampling. All exact integer ppm (every numerator
    * nonnegative, so plain div == floor on both engines).
    *
    * Scale: one map-side-combined (source, term) count shuffle —
    * vocabulary-scale state — then a |S|-row aggregate. The cheapest
    * query shape after q147's. */
  private def q165(s: SparkSession, dir: String): DataFrame =
    srcVocab(s, dir) // standing (source, term, c) artifact
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("dis"))
      .withColumn("unseen_mass_ppm", expr("(hapax * 1000000) DIV n_tokens"))
      .withColumn("coverage_ppm",
        expr("((n_tokens - hapax) * 1000000) DIV n_tokens"))
      .withColumn("hapax_vocab_ppm", expr("(hapax * 1000000) DIV vocab"))
      .withColumn("chao1_vocab",
        expr("vocab + (hapax * (hapax - 1)) DIV (2 * (dis + 1))"))
      .orderBy(col("source"))

  private val q165Sql =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
      |), c AS (
      |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
      |  FROM t WHERE term <> '' GROUP BY source, term
      |), g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
      |         CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
      |  FROM c GROUP BY source
      |)
      |SELECT source, vocab, n_tokens, hapax, dis,
      |       (hapax * 1000000) // n_tokens AS unseen_mass_ppm,
      |       ((n_tokens - hapax) * 1000000) // n_tokens AS coverage_ppm,
      |       (hapax * 1000000) // vocab AS hapax_vocab_ppm,
      |       vocab + (hapax * (hapax - 1)) // (2 * (dis + 1)) AS chao1_vocab
      |FROM g ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q166
  /** Term burstiness (Church & Gale 1995): content words CLUMP — when
    * a document uses a topical term it uses it repeatedly, so the
    * collection-frequency-to-document-frequency ratio cf/df separates
    * bursty topic/spam terms (high) from evenly-spread function words
    * (≈ 1). The top-20 burstiest terms above a cf ≥ 8 stability
    * floor, with burstiness in exact integer milli (cf·1000 div df),
    * document reach in ppm of the corpus, and (burstiness desc, term)
    * as the total order — the term-level complement of q78's
    * doc-level duplicated-gram histogram and q56's within-doc
    * repetition gate.
    *
    * Scale: (term, doc) pairs collapse to df/cf in one two-level
    * aggregate (map-side combined both levels); the final top-20 is a
    * TakeOrdered over vocabulary-scale rows — nothing corpus-scale
    * survives the first aggregate, and the cf floor is the same
    * open-vocabulary guard as q118/q164. */
  private val BurstCfFloor = 8L
  private val BurstTopK = 20

  private def q166(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("k"))
    val nDocs = Tables.documents(s, dir).select(count(lit(1)).as("n_docs"))
    perDoc.groupBy(col("term"))
      .agg(sum(col("k")).as("cf"), count(lit(1)).as("df"))
      .filter(col("cf") >= BurstCfFloor)
      .crossJoin(nDocs)
      .select(col("term"), col("cf"), col("df"),
        expr("(cf * 1000) DIV df").as("burstiness_milli"),
        expr("(df * 1000000) DIV n_docs").as("doc_reach_ppm"))
      .orderBy(col("burstiness_milli").desc, col("term"))
      .limit(BurstTopK)
  }

  private val q166Sql =
    s"""WITH pd AS (
       |  SELECT term, doc_id, count(*) AS k FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |  ) WHERE term <> '' GROUP BY term, doc_id
       |), a AS (
       |  SELECT term, CAST(sum(k) AS BIGINT) AS cf,
       |         CAST(count(*) AS BIGINT) AS df
       |  FROM pd GROUP BY term HAVING CAST(sum(k) AS BIGINT) >= $BurstCfFloor
       |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT a.term, a.cf, a.df,
       |       (a.cf * 1000) // a.df AS burstiness_milli,
       |       (a.df * 1000000) // n.n_docs AS doc_reach_ppm
       |FROM a CROSS JOIN n
       |ORDER BY burstiness_milli DESC, a.term
       |LIMIT $BurstTopK""".stripMargin

  // --------------------------------------------------------------- q167
  /** Modified Kneser-Ney discount statistics (Chen & Goodman 1998
    * §3.3.3 — the numbers KenLM's trainer derives before it smooths
    * anything): for each n-gram order 1-3, the count-of-counts
    * n₁..n₄ (how many distinct grams occur exactly c times) and the
    * closed-form discounts Y = n₁/(n₁+2n₂), D₁ = 1 − 2Y·n₂/n₁,
    * D₂ = 2 − 3Y·n₃/n₂, D₃₊ = 3 − 4Y·n₄/n₃, all as exact floor-milli
    * integers in DECIMAL(38,0)/HUGEINT with the remainder-removal
    * idiom (D₂/D₃₊ can go negative on skewed count tables — the
    * signed floor path again) and null guards on every vanishing
    * denominator. The trainer-side companion of q99's bigram LM: q99
    * consumes a smoother, this measures the corpus statistics that
    * FIT one.
    *
    * Scale: reads the [[gramCounts]] standing artifact — the corpus
    * explode ran once at artifact-build time; what remains is one
    * vocabulary-scale (n, gram) re-aggregate (a gram occurring in
    * several sources sums its per-source counts — count multisets are
    * additive, so the global count table is a rollup of the per-source
    * one), then the count-of-counts collapse to 3 rows. */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    def dmilli(numExpr: String, denExpr: String, guard: String) =
      s"""CASE WHEN $guard THEN CAST(
         |  (CAST($numExpr AS DECIMAL(38,0)) * 1000
         |   - pmod(CAST($numExpr AS DECIMAL(38,0)) * 1000, $denExpr))
         |  DIV ($denExpr) AS BIGINT) END""".stripMargin
    gramCounts(s, dir)
      .groupBy(col("n"), col("g"))
      .agg(sum(col("c")).as("c"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("distinct_grams"), sum(col("c")).as("total_grams"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"),
        sum(when(col("c") === 3L, 1L).otherwise(0L)).as("n3"),
        sum(when(col("c") === 4L, 1L).otherwise(0L)).as("n4"))
      .withColumn("y_milli",
        expr("CASE WHEN n1 + 2 * n2 > 0 THEN (n1 * 1000) DIV (n1 + 2 * n2) END"))
      .withColumn("d1_milli",
        expr("CASE WHEN n1 + 2 * n2 > 0 THEN (n1 * 1000) DIV (n1 + 2 * n2) END"))
      .withColumn("d2_milli", expr(dmilli(
        "2 * n2 * (n1 + 2 * n2) - 3 * n1 * n3", "n2 * (n1 + 2 * n2)",
        "n2 > 0 AND n1 + 2 * n2 > 0")))
      .withColumn("d3_milli", expr(dmilli(
        "3 * n3 * (n1 + 2 * n2) - 4 * n1 * n4", "n3 * (n1 + 2 * n2)",
        "n3 > 0 AND n1 + 2 * n2 > 0")))
      .select(col("n").cast("long").as("n"), col("distinct_grams"),
        col("total_grams"), col("n1"), col("n2"), col("n3"), col("n4"),
        col("y_milli"), col("d1_milli"), col("d2_milli"), col("d3_milli"))
      .orderBy(col("n"))
  }

  private val q167Sql = {
    def dmilli(num: String, den: String, guard: String) =
      s"""CASE WHEN $guard THEN CAST(
         |  ((($num)::HUGEINT * 1000) - ((((($num)::HUGEINT * 1000) % ($den)) + ($den)) % ($den)))
         |  // ($den) AS BIGINT) END""".stripMargin
    s"""WITH $gramCountsSql,
       |c AS (
       |  SELECT n, g, CAST(sum(c) AS BIGINT) AS c FROM gc GROUP BY n, g
       |), cc AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS distinct_grams,
       |         CAST(sum(c) AS BIGINT) AS total_grams,
       |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |         CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |         CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM c GROUP BY n
       |)
       |SELECT CAST(n AS BIGINT) AS n, distinct_grams, total_grams, n1, n2, n3, n4,
       |       CASE WHEN n1 + 2 * n2 > 0 THEN (n1 * 1000) // (n1 + 2 * n2) END
       |         AS y_milli,
       |       CASE WHEN n1 + 2 * n2 > 0 THEN (n1 * 1000) // (n1 + 2 * n2) END
       |         AS d1_milli,
       |       ${dmilli("2 * n2 * (n1 + 2 * n2) - 3 * n1 * n3",
                        "(n2 * (n1 + 2 * n2))::HUGEINT",
                        "n2 > 0 AND n1 + 2 * n2 > 0")} AS d2_milli,
       |       ${dmilli("3 * n3 * (n1 + 2 * n2) - 4 * n1 * n4",
                        "(n3 * (n1 + 2 * n2))::HUGEINT",
                        "n3 > 0 AND n1 + 2 * n2 > 0")} AS d3_milli
       |FROM cc ORDER BY n""".stripMargin
  }

  // --------------------------------------------------------------- q169
  /** Log-length lognormal fit: document lengths are classically
    * lognormal, and the (μ, σ²) of log₂-length is what a loader uses
    * to size length buckets (q75/q116 consume a bucket layout; this
    * measures the distribution that justifies one). Per source: doc
    * count, min/max token length, μ as mean_log2len_micro (10⁻⁶ of a
    * log₂ unit) and σ² as var_log2len_milli (10⁻³ of a squared log₂
    * unit — milli, not micro, keeps (nΣx²−(Σx)²)·10³ inside
    * DECIMAL(38,0) even at 10⁹ docs/source), both exact integers off
    * graft_log2q20 points with the remainder-removal floor. Zero-token
    * docs are counted (n_docs) but excluded from the fit (n_fit).
    *
    * Scale: pure scan-side arithmetic per row into one map-side-
    * combined |S|-row aggregate — q147's cheapest-possible shape,
    * with the Q20 log running inside whole-stage codegen. */
  private def q169(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("len"))
      .withColumn("x", expr("CASE WHEN len >= 1 THEN graft_log2q20(len, 1L) END"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("x")).as("n_fit"),
        min(col("len")).as("min_len"), max(col("len")).as("max_len"),
        sum(col("x")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn("mean_log2len_micro",
        expr("""CASE WHEN n_fit > 0 THEN CAST(
                |  (CAST(sx AS DECIMAL(38,0)) * 1000000
                |   - pmod(CAST(sx AS DECIMAL(38,0)) * 1000000, n_fit * 1048576))
                |  DIV (n_fit * 1048576) AS BIGINT) END""".stripMargin))
      .withColumn("var_log2len_milli",
        expr("""CASE WHEN n_fit > 0 THEN CAST(
                |  ((n_fit * sxx - CAST(sx AS DECIMAL(38,0)) * sx) * 1000
                |   - pmod((n_fit * sxx - CAST(sx AS DECIMAL(38,0)) * sx) * 1000,
                |          CAST(n_fit AS DECIMAL(38,0)) * n_fit * 1099511627776))
                |  DIV (CAST(n_fit AS DECIMAL(38,0)) * n_fit * 1099511627776)
                |  AS BIGINT) END""".stripMargin))
      .select(col("source"), col("n_docs"), col("n_fit"),
        col("min_len"), col("max_len"),
        col("mean_log2len_micro"), col("var_log2len_milli"))
      .orderBy(col("source"))

  private val q169Sql = {
    val logs = graft.functions.Log2Kernel.cteChain(
      "d", "lg", Seq(("lx", "CASE WHEN len >= 1 THEN len ELSE 1 END", "CAST(1 AS BIGINT)")))
    s"""WITH d AS (
       |  SELECT source,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |              AS BIGINT) AS len
       |  FROM documents
       |)$logs, p AS (
       |  SELECT source, len,
       |         CASE WHEN len >= 1 THEN lx_q20 END AS x
       |  FROM lg
       |), a AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(count(x) AS BIGINT) AS n_fit,
       |         CAST(min(len) AS BIGINT) AS min_len,
       |         CAST(max(len) AS BIGINT) AS max_len,
       |         CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
       |  FROM p GROUP BY source
       |), e AS (
       |  SELECT *, CAST(sx AS HUGEINT) * 1000000 AS mnum,
       |         CAST(n_fit AS HUGEINT) * 1048576 AS mden,
       |         (n_fit * sxx - CAST(sx AS HUGEINT) * sx) * 1000 AS vnum,
       |         CAST(n_fit AS HUGEINT) * n_fit * 1099511627776 AS vden
       |  FROM a
       |)
       |SELECT source, n_docs, n_fit, min_len, max_len,
       |       CASE WHEN n_fit > 0 THEN CAST(
       |         (mnum - ((mnum % mden + mden) % mden)) // mden AS BIGINT)
       |       END AS mean_log2len_micro,
       |       CASE WHEN n_fit > 0 THEN CAST(
       |         (vnum - ((vnum % vden + vden) % vden)) // vden AS BIGINT)
       |       END AS var_log2len_milli
       |FROM e ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q176
  /** Shannon-bound storage planner: the unigram entropy H₀ =
    * Σ (c/N)·log₂(N/c) is the exact lower bound on bits/token any
    * token-level entropy coder can reach, so N·H₀/8 bytes is the
    * floor a tokenized-and-coded copy of each source can occupy — the
    * number that says whether building a compressed token archive of
    * a 100 TB source is worth it before any coder runs. Per source:
    * tokens, vocabulary, H₀ in micro-bits/token (exact — every
    * c·log₂(N/c) term through graft_log2q20, summed in
    * DECIMAL(38,0)/HUGEINT since c·2²⁰·62 overflows Long on 10¹²-token
    * sources), the bound in bytes, the raw text bytes, and
    * bound/raw ppm. q111 gates per-DOC entropy on the coarse 4-class
    * ladder; this is the corpus-level PRECISE form, and the third
    * consumer of the Q20 kernel after q163/q164.
    *
    * Scale: one map-side-combined (source, token) count, the Q20 log
    * on vocabulary-scale rows inside codegen, one |S|-row rollup;
    * raw bytes ride the scan-side n_chars sum. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("source"), explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val h = counts
      .withColumn("n", sum(col("c")).over(whole))
      .withColumn("bits", expr("CAST(c AS DECIMAL(38,0)) * graft_log2q20(n, c)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), max(col("n")).as("n_tokens"),
        sum(col("bits")).as("tb"))
      .withColumn("h0_microbits", expr(
        "CAST(tb * 1000000 DIV (CAST(n_tokens AS DECIMAL(38,0)) * 1048576) AS BIGINT)"))
      .withColumn("bound_bytes", expr("CAST(tb DIV (8 * 1048576) AS BIGINT)"))
    val raw = Tables.documents(s, dir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("raw_bytes"))
    h.join(raw, Seq("source"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        col("h0_microbits"), col("bound_bytes"), col("raw_bytes"),
        expr("(bound_bytes * 1000000) DIV raw_bytes").as("bound_ppm"))
      .orderBy(col("source"))
  }

  private val q176Sql = {
    val logs = graft.functions.Log2Kernel.cteChain(
      "cn", "lg", Seq(("lx", "n", "c")))
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
       |), c0 AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM t WHERE term <> '' GROUP BY source, term
       |), cn AS (
       |  SELECT source, term, c,
       |         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM c0
       |)$logs, h AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |         CAST(max(n) AS BIGINT) AS n_tokens,
       |         sum(CAST(c AS HUGEINT) * lx_q20) AS tb
       |  FROM lg GROUP BY source
       |), hb AS (
       |  SELECT source, vocab, n_tokens,
       |         CAST((tb * 1000000) // (CAST(n_tokens AS HUGEINT) * 1048576)
       |              AS BIGINT) AS h0_microbits,
       |         CAST(tb // (8 * 1048576) AS BIGINT) AS bound_bytes
       |  FROM h
       |), raw AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS raw_bytes
       |  FROM documents GROUP BY source
       |)
       |SELECT hb.source, hb.n_tokens, hb.vocab, hb.h0_microbits,
       |       hb.bound_bytes, raw.raw_bytes,
       |       (hb.bound_bytes * 1000000) // raw.raw_bytes AS bound_ppm
       |FROM hb JOIN raw ON raw.source = hb.source
       |ORDER BY hb.source""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q20_token_explode", Some(q20Sql), q20),
    QuerySpec("q21_text_stats", Some(q21Sql), q21),
    QuerySpec("q22_doc_fingerprint", Some(q22Sql), q22),
    QuerySpec("q23_lang_id_confusion", Some(q23Sql), q23),
    QuerySpec("q66_vocab_profile", Some(q66Sql), q66),
    QuerySpec("q110_boilerplate_profile", Some(q110Sql), q110),
    QuerySpec("q111_entropy_gate", Some(q111Sql), q111),
    QuerySpec("q118_vocab_coverage", Some(q118Sql), q118),
    QuerySpec("q134_ngram_diversity", Some(q134Sql), q134),
    QuerySpec("q147_gopher_rules", Some(q147Sql), q147),
    QuerySpec("q163_heaps_law", Some(q163Sql), q163),
    QuerySpec("q164_zipf_slope", Some(q164Sql), q164),
    QuerySpec("q165_good_turing", Some(q165Sql), q165),
    QuerySpec("q166_burstiness", Some(q166Sql), q166),
    QuerySpec("q167_kn_discounts", Some(q167Sql), q167),
    QuerySpec("q169_loglen_fit", Some(q169Sql), q169),
    QuerySpec("q176_entropy_bound", Some(q176Sql), q176),
  )
}
