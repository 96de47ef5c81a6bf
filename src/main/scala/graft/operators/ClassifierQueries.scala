package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine quality classifier — the second canonical LLM-data
  * quality gate next to q99's perplexity LM: GPT-3/LLaMA-style
  * pipelines score every document with a fast linear classifier
  * (fastText / logistic over hashed features) trained to recognize a
  * target domain. Here the classifier is multinomial naive Bayes over
  * hashed-unigram counts — the linear model whose training is a
  * CLOSED-FORM count aggregate, which is what makes it the honestly
  * distributed choice: no sequential example loop (a batch perceptron
  * oscillates on balanced noisy data — measured), no gradient
  * schedule, one map-side-combined groupBy to fit.
  *
  * Label (weak supervision, the fastText-filter setup): y = +1 when
  * the doc mentions `window` ≥ 2 times — the same content-defined
  * target domain as q93, so selection (DSIR) and classification rank
  * the same concept two ways.
  *
  * Exactness: per-class per-bucket Laplace log-likelihoods
  * ln((c+1)/(N+B)) and the class prior both come from
  * [[EventQueries.lnSmallWeight]] — integer milli-nats off pure
  * 64-bit compares — and the per-doc score is an exact BIGINT
  * Σ x_b·(w⁺_b − w⁻_b) + prior, so Spark and the DuckDB oracle agree
  * bit for bit. The weights are COMPUTED BY SPARK EXPRESSIONS on the
  * B-row count frame, so there is no Scala twin of the ladder to
  * drift (the `QualityStream` twin in src/test collects those same
  * frames for its scoring closure).
  *
  * Scale: training is one corpus scan → groupBy over B=64 buckets
  * (map-side combined, B rows out); the B-row weight table and 1-row
  * prior BROADCAST into the scoring scan (kept lazy — one plan, zero
  * driver collects; a literal-collect variant measured ~2× slower at
  * sf0.1 from the extra scheduled jobs); scoring is scan → per-doc
  * partial-sum agg. The 10% train split exercises the real
  * deployment: fit on a curated slice, score everything. */
object ClassifierQueries {

  private[graft] val Buckets = 64
  private val TrainMod = 10

  /** Labeled docs (doc_id, source, y, t), un-spread. Callers filter
    * FIRST, then [[toks]] spreads — so the train-split fit shuffles
    * 10% of the text, not all of it. */
  private def labeled(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("source"),
      expr("CASE WHEN size(filter(split(text, ' '), t -> t = 'window')) >= 2 " +
        "THEN 1 ELSE -1 END").cast("long").as("y"),
      split(col("text"), " ").as("t"))

  /** Hashed token rows of a labeled-doc frame: (doc_id, source, y, b)
    * — one row per token, hash work above the spread exchange.
    * Σ_tokens w(b) ≡ Σ_buckets x_b·w_b, so neither the fit nor the
    * scoring pass needs a per-(doc, bucket) pre-aggregate. */
  private def toks(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("source"), col("y"), explode(col("t")).as("tok"))
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("bigint") % Buckets)

  /** The fitted NB model as a STANDING ARTIFACT ([[Artifacts]]):
    * B-row weight table + 1-row prior collected ONCE per dataset into
    * LocalRelations. The earlier keep-it-lazy note below measured a
    * PER-QUERY collect ~2× slower (three extra scheduled jobs per
    * run); amortized across the model's consumers (q100/q104/q120/
    * q130) the one-time collect wins — later
    * queries broadcast literal rows with zero fit jobs. */
  private[graft] def nbModel(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Artifacts.value(s, dir, "nb_model") {
      // lazy: the fit runs only for an inner frame not yet memoized
      lazy val fit = fitFrames(s, dir)
      (Artifacts.localFrame(s, dir, "nb_weights")(fit._1),
        Artifacts.localFrame(s, dir, "nb_prior")(fit._2))
    }

  /** The fit as LAZY frames: (weights — B rows (b, w), prior — one
    * row (pr)). The batch query keeps the whole fit+score pipeline one
    * lazy plan (B-row broadcast joins, zero driver collects — the q93
    * shape; collecting the model to a literal costs three extra
    * scheduled jobs per run, measured ~2× slower at sf0.1). */
  private def fitFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val train = toks(labeled(s, dir).filter(col("doc_id") % TrainMod === 0))
    // every bucket 0..B-1 gets a row (LEFT join off a range) so an
    // unseen-in-train bucket carries its true Laplace weight, not an
    // arbitrary 0
    val cnt = train.groupBy(col("b"))
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("cp"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("cn"))
    // grand totals as a whole-frame window over the B-row count frame
    // — NOT a separate .agg() subtree, which would re-run the train
    // scan a second time inside the broadcast build
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val weights = s.range(Buckets).toDF("b")
      .join(cnt, Seq("b"), "left")
      .select(col("b"), coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cn"), lit(0L)).as("cn"))
      .withColumn("np", sum(col("cp")).over(whole))
      .withColumn("nn", sum(col("cn")).over(whole))
      .select(col("b"),
        (EventQueries.lnSmallWeight(col("cp") + 1L, col("np") + Buckets) -
          EventQueries.lnSmallWeight(col("cn") + 1L, col("nn") + Buckets)).as("w"))
    // class prior, through the same ladder (an empty class clamps to
    // the ladder bottom rather than erroring); doc counts come off the
    // pre-explode, un-spread doc frame — no tokenize/hash/shuffle work
    // for two numbers
    val prior = labeled(s, dir).filter(col("doc_id") % TrainMod === 0)
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("dp"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("dn"))
      .select((EventQueries.lnSmallWeight(col("dp"), col("dp") + col("dn")) -
        EventQueries.lnSmallWeight(col("dn"), col("dp") + col("dn"))).as("pr"))
    (weights, prior)
  }

  /** Per-doc NB scores (source, doc_id, y, s): fit on the
    * doc_id % 10 = 0 split, score every doc. The spec asserts
    * learning (held-out accuracy above the majority rate) here. */
  /** Per-doc NB scores as a STANDING ARTIFACT — four registered
    * consumers (q100 report, q104 calibration, q172 AUC, the q120/q130
    * gate frame) each re-ran the scoring corpus pass per query. One
    * build scores the corpus once; consumers read the narrow
    * (source, doc_id, y, s) frame. The oracle re-derives inline
    * (scoreCtes), hashes unchanged; ArtifactsSpec pins artifact ==
    * fresh build. */
  private[graft] def docScores(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_scores")(docScoresBuild(s, dir))

  /** The builder (exposed for the plan pin: the broadcast-model
    * discipline lives HERE; consumers must not re-scan the corpus). */
  private[graft] def docScoresBuild(s: SparkSession, dir: String): DataFrame = {
    val (weights, prior) = nbModel(s, dir)
    // ---- score: the B-row weight table and 1-row prior broadcast
    // into the token stream; ONE per-doc partial-sum agg ----
    toks(labeled(s, dir))
      .join(broadcast(weights), Seq("b"))
      .crossJoin(broadcast(prior))
      .groupBy(col("source"), col("doc_id"), col("y"))
      .agg((sum(col("w")) + first(col("pr"))).as("s"))
  }

  // --------------------------------------------------------------- q100
  /** Per-source classification report: docs, actual/predicted
    * positives, correct count, accuracy (pred = score > 0). */
  private def q100(s: SparkSession, dir: String): DataFrame =
    docScores(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("s") > 0L, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when((col("s") > 0L) === (col("y") === 1L), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("source"), col("n_docs"), col("n_pos"), col("n_pred_pos"),
        col("n_correct"),
        Det.rate(col("n_correct").cast("double") / col("n_docs")).as("acc"))
      .orderBy(col("source"))

  /** Shared oracle CTE block ending in p = (source, doc_id, y, s) —
    * the SQL twin of [[docScores]], built on by q100 (classification
    * report) and q104 (calibration) so the two cannot drift. */
  private[operators] val scoreCtes = {
    val wpos = EventQueries.lnSmallWeightSql("cp + 1", s"np + $Buckets")
    val wneg = EventQueries.lnSmallWeightSql("cn + 1", s"nn + $Buckets")
    val prip = EventQueries.lnSmallWeightSql("dp", "dp + dn")
    val prin = EventQueries.lnSmallWeightSql("dn", "dp + dn")
    s"""WITH tk AS (
       |  SELECT doc_id, source,
       |         CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'window')) >= 2
       |              THEN 1 ELSE -1 END AS y,
       |         CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % $Buckets AS b
       |  FROM (SELECT doc_id, source, text,
       |               unnest(string_split(text, ' ')) AS tok FROM documents)
       |), f AS (
       |  SELECT doc_id, source, y, b, CAST(count(*) AS BIGINT) AS x
       |  FROM tk GROUP BY 1, 2, 3, 4
       |), bu AS (
       |  SELECT CAST(b AS BIGINT) AS b FROM unnest(generate_series(0, ${Buckets - 1})) u(b)
       |), cnt AS (
       |  SELECT b, CAST(sum(CASE WHEN y = 1 THEN x ELSE 0 END) AS BIGINT) AS scp,
       |         CAST(sum(CASE WHEN y = -1 THEN x ELSE 0 END) AS BIGINT) AS scn
       |  FROM f WHERE doc_id % $TrainMod = 0 GROUP BY 1
       |), cb AS (
       |  SELECT bu.b, COALESCE(scp, 0) AS cp, COALESCE(scn, 0) AS cn
       |  FROM bu LEFT JOIN cnt USING (b)
       |), tot AS (
       |  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn FROM cb
       |), pri AS (
       |  SELECT CAST(count(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS BIGINT) AS dp,
       |         CAST(count(DISTINCT CASE WHEN y = -1 THEN doc_id END) AS BIGINT) AS dn
       |  FROM f WHERE doc_id % $TrainMod = 0
       |), wt AS (
       |  SELECT b, ($wpos) - ($wneg) AS w FROM cb, tot
       |), p AS (
       |  SELECT f.source, f.doc_id, f.y,
       |         CAST(sum(f.x * w.w) AS BIGINT)
       |           + (SELECT ($prip) - ($prin) FROM pri) AS s
       |  FROM f JOIN wt w ON w.b = f.b
       |  GROUP BY 1, 2, 3
       |)""".stripMargin
  }

  private val q100Sql =
    s"""$scoreCtes
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       |       CAST(sum(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_correct,
       |       floor(CAST(sum(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END)
       |                  AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS acc
       |FROM p GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q104
  /** Classifier calibration audit — the evaluation-harness sibling of
    * q101/q103 for the quality gate: bucket every doc's exact
    * milli-nat NB score into fixed-width bins (4 nats wide, clamped to
    * ±5) and report the observed positive rate per bin — the
    * reliability-diagram table a pipeline reviews before trusting
    * q100's scores as a keep/drop threshold. A calibrated (or merely
    * monotone) scorer shows pos_rate rising with the bin; the spec
    * asserts the top bin dominates the bottom bin and that the bins
    * partition the corpus.
    *
    * Exactness: scores are exact BIGINTs (q100's ladder), the bin is
    * integer floor-division arithmetic both engines replay bit-for-bit,
    * and pos_rate is the one Det.rate-rounded column.
    *
    * Scale: identical to q100 (fit = B-row broadcast, score = one
    * corpus scan with per-doc partial sums); the bin rollup adds one
    * map-side-combined aggregate over ≤ 11 rows. */
  private val BinWidth = 4000L // milli-nats per calibration bin
  private val BinClamp = 5L

  private def q104(s: SparkSession, dir: String): DataFrame =
    docScores(s, dir)
      .withColumn("bin",
        greatest(least(floor(col("s").cast("double") / BinWidth).cast("long"),
          lit(BinClamp)), lit(-BinClamp)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        min(col("s")).as("min_score"),
        max(col("s")).as("max_score"))
      .withColumn("pos_rate",
        Det.rate(col("n_pos").cast("double") / col("n_docs")))
      .orderBy(col("bin"))

  private val q104Sql =
    s"""$scoreCtes
       |SELECT GREATEST(LEAST(CAST(floor(CAST(s AS DOUBLE) / $BinWidth) AS BIGINT),
       |                      $BinClamp), -$BinClamp) AS bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       CAST(min(s) AS BIGINT) AS min_score,
       |       CAST(max(s) AS BIGINT) AS max_score,
       |       floor(CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1e6 + 0.5) / 1e6 AS pos_rate
       |FROM p GROUP BY bin ORDER BY bin""".stripMargin

  // --------------------------------------------------------------- q120
  /** Quality-gate ensemble agreement — the audit a pipeline runs
    * before composing its gates (DataComp/Dolma-style multi-filter
    * curation): do the three independent keep/drop signals — q99's
    * perplexity LM, q100's NB classifier, q111's token entropy —
    * agree on the same documents, or does each cut a different slice?
    * Per gate pair: the 2×2 confusion counts, raw agreement ppm, and
    * Cohen's kappa (chance-corrected agreement — raw agreement alone
    * flatters gates that both keep almost everything). Low kappa =
    * the gates are complementary (ensemble adds signal); high kappa =
    * redundant (drop one and save a corpus pass).
    *
    * Exactness: every keep bit is the exact integer arithmetic of its
    * parent query (milli-nat ladders, BIGINT scores); the confusion
    * counts are integer sums, agreement is integer ppm, and kappa's
    * num/den are exact BIGINT expressions divided once in double and
    * Det-rounded to 3 decimals (|num|, den < N² — exact in double at
    * any bench sf; a 10¹²-doc run promotes to DECIMAL).
    *
    * Scale: the three per-doc gate frames are each one corpus scan
    * with broadcast models (their parent queries' shapes); the joins
    * are doc_id-equi on 3 narrow columns; the pair explode triples
    * 3-bit rows before a 3-row aggregate. Domain = docs scored by all
    * three gates (the LM needs ≥ 2 tokens), inner-join semantics both
    * engines share. */
  /** The three per-doc gate verdicts joined on doc_id — the frame q120
    * (pairwise agreement) and q130 (per-source pass rates) both read,
    * as a STANDING ARTIFACT: each consumer previously re-joined the
    * three gate passes per query (and q130 added its own documents
    * scan for the source column — now carried through from the
    * doc_scores frame). The build itself reads the three standing
    * per-doc substrates (doc_nll / doc_scores / doc_entropy), so warm
    * it costs two doc_id equi-joins of narrow frames and cold exactly
    * one corpus pass per gate. Domain = docs scored by all three gates
    * (the LM needs ≥ 2 tokens). */
  private[operators] def gateFrame(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "gate_verdicts")(gateFrameBuild(s, dir))

  private[operators] def gateFrameBuild(s: SparkSession, dir: String): DataFrame = {
    val lm = SelectionQueries.docNll(s, dir)
      .select(col("doc_id"),
        (!(col("nll") > lit(SelectionQueries.PplFlagMnat) * col("nbg")))
          .as("keep_lm"))
    val nb = docScores(s, dir)
      .select(col("doc_id"), col("source"), (col("s") > 0L).as("keep_nb"))
    val ent = TextQueries.docEntropy(s, dir)
      .select(col("doc_id"),
        (col("entropy_mnat") >= TextQueries.EntropyKeepMnats).as("keep_ent"))
    lm.join(nb, Seq("doc_id")).join(ent, Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        col("keep_lm"), col("keep_nb"), col("keep_ent"))
  }

  private def q120(s: SparkSession, dir: String): DataFrame = {
    val pairs = gateFrame(s, dir)
      .select(explode(array(
        struct(lit("lm~nb").as("pair"), col("keep_lm").as("ka"),
          col("keep_nb").as("kb")),
        struct(lit("lm~entropy").as("pair"), col("keep_lm").as("ka"),
          col("keep_ent").as("kb")),
        struct(lit("nb~entropy").as("pair"), col("keep_nb").as("ka"),
          col("keep_ent").as("kb")))).as("x"))
      .select(col("x.pair").as("pair"), col("x.ka").as("ka"), col("x.kb").as("kb"))
    val chance =
      (col("both_keep") + col("a_only")) * (col("both_keep") + col("b_only")) +
        (col("both_drop") + col("b_only")) * (col("both_drop") + col("a_only"))
    pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("both_drop"),
        sum(when(col("ka") && !col("kb"), 1L).otherwise(0L)).as("a_only"),
        sum(when(!col("ka") && col("kb"), 1L).otherwise(0L)).as("b_only"))
      .withColumn("agree_ppm",
        expr("((both_keep + both_drop) * 1000000) div n_docs"))
      // Degenerate-kappa contract: when n² == chance (a pair whose
      // marginals are fully concentrated — e.g. both gates keep every
      // doc) Cohen's kappa is undefined; emit NULL. Without the guard
      // Spark's ANSI division throws DIVIDE_BY_ZERO and DuckDB's IEEE
      // division yields inf — caught live by the 100× replica sweep.
      .withColumn("kappa",
        when(col("n_docs") * col("n_docs") - chance === 0L,
          lit(null).cast("double"))
        .otherwise(Det.rnd(
          (col("n_docs") * (col("both_keep") + col("both_drop")) - chance)
            .cast("double") /
            (col("n_docs") * col("n_docs") - chance).cast("double"), 3)))
      .orderBy(col("pair"))
  }

  /** Oracle CTE chain through the 3-gate verdict frame `gates` —
    * shared by q120Sql and q130Sql (the gates' existing oracle texts,
    * zero drift). */
  private lazy val gatesCtesSql: String = {
    val entW = EventQueries.lnSmallWeightSql("ec.c", "en.n")
    s"""${SelectionQueries.docNllSqlPrefix},
       |${scoreCtes.stripPrefix("WITH ")},
       |etk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), ec AS (
       |  SELECT doc_id, tok, count(*) AS c FROM etk GROUP BY 1, 2
       |), en AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM ec GROUP BY 1
       |), es AS (
       |  SELECT ec.doc_id, CAST(sum(ec.c * $entW) AS BIGINT) AS ssum
       |  FROM ec JOIN en USING (doc_id) GROUP BY 1
       |), gates AS (
       |  SELECT sc.doc_id,
       |         NOT (sc.nll > ${SelectionQueries.PplFlagMnat} * sc.nbg) AS keep_lm,
       |         p.s > 0 AS keep_nb,
       |         (greatest(0, -es.ssum) // en.n) >= ${TextQueries.EntropyKeepMnats}
       |           AS keep_ent
       |  FROM sc JOIN p ON p.doc_id = sc.doc_id
       |  JOIN es ON es.doc_id = sc.doc_id
       |  JOIN en ON en.doc_id = sc.doc_id
       |)""".stripMargin
  }

  private val q120Sql = {
    val chance = "((both_keep + a_only) * (both_keep + b_only) + " +
      "(both_drop + b_only) * (both_drop + a_only))"
    s"""$gatesCtesSql, pr2 AS (
       |  SELECT 'lm~nb' AS pair, keep_lm AS ka, keep_nb AS kb FROM gates
       |  UNION ALL SELECT 'lm~entropy', keep_lm, keep_ent FROM gates
       |  UNION ALL SELECT 'nb~entropy', keep_nb, keep_ent FROM gates
       |), agg AS (
       |  SELECT pair, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
       |    CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS both_drop,
       |    CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
       |    CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS b_only
       |  FROM pr2 GROUP BY pair
       |)
       |SELECT pair, n_docs, both_keep, both_drop, a_only, b_only,
       |  CAST(((both_keep + both_drop) * 1000000) // n_docs AS BIGINT) AS agree_ppm,
       |  CASE WHEN n_docs * n_docs - $chance = 0 THEN NULL
       |       ELSE floor(CAST(n_docs * (both_keep + both_drop) - $chance AS DOUBLE)
       |            / (n_docs * n_docs - $chance) * 1000 + 0.5) / 1000 END AS kappa
       |FROM agg ORDER BY pair""".stripMargin
  }

  // --------------------------------------------------------------- q130
  /** Per-source quality-gate pass-rate matrix — the "which source is
    * junk" dashboard a mixture designer reads next to q122's overlap
    * matrix and q76/q114's allocations: for every (source, gate) cell,
    * the share of the source's docs each gate keeps, plus the `all`
    * composite (docs passing every gate — what actually survives a
    * stacked filter). A source whose `all` rate craters while its
    * individual rates look fine is being killed by gate INTERACTION —
    * the read q120's corpus-level kappa can't localize.
    *
    * Scale: one read of the standing gate_verdicts artifact (source
    * rides the frame — no documents scan at all); the unpivot
    * quadruples 3-bit rows before a |sources|·4-row map-side-combined
    * aggregate. keep_ppm is exact integer division. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    gateFrame(s, dir)
      .select(col("source"), explode(array(
        struct(lit("lm").as("gate"), col("keep_lm").as("keep")),
        struct(lit("nb").as("gate"), col("keep_nb").as("keep")),
        struct(lit("entropy").as("gate"), col("keep_ent").as("keep")),
        struct(lit("all").as("gate"),
          (col("keep_lm") && col("keep_nb") && col("keep_ent")).as("keep")))).as("x"))
      .select(col("source"), col("x.gate").as("gate"), col("x.keep").as("keep"))
      .groupBy(col("source"), col("gate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_ppm", expr("(n_keep * 1000000) div n_docs"))
      .orderBy(col("source"), col("gate"))
  }

  private val q130Sql =
    s"""$gatesCtesSql, wsrc AS (
       |  SELECT g.keep_lm, g.keep_nb, g.keep_ent, d.source
       |  FROM gates g JOIN documents d ON d.doc_id = g.doc_id
       |), unp AS (
       |  SELECT source, 'lm' AS gate, keep_lm AS keep FROM wsrc
       |  UNION ALL SELECT source, 'nb', keep_nb FROM wsrc
       |  UNION ALL SELECT source, 'entropy', keep_ent FROM wsrc
       |  UNION ALL SELECT source, 'all', keep_lm AND keep_nb AND keep_ent FROM wsrc
       |), agg AS (
       |  SELECT source, gate, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |  FROM unp GROUP BY source, gate
       |)
       |SELECT source, gate, n_docs, n_keep,
       |       CAST((n_keep * 1000000) // n_docs AS BIGINT) AS keep_ppm
       |FROM agg ORDER BY source, gate""".stripMargin

  // --------------------------------------------------------------- q172
  /** Exact ROC-AUC of the quality gate on the held-out split — the
    * number a gate ships with (q100 reports thresholded accuracy;
    * AUC is the threshold-FREE ranking quality): per source, the
    * Mann-Whitney statistic computed exactly over integer scores,
    * ties at half credit — AUC = (2·Σ_pos less_neg + Σ_pos tied_neg)
    * / (2·P·N) in floor ppm. Degenerate single-class sources guard
    * null.
    *
    * No pos×neg pair join: held-out docs collapse to one row per
    * DISTINCT (source, score) with class counts, and a per-source
    * running sum of negatives-strictly-below prices every positive
    * at that score in one pass — the rank-sum construction, O(n log n)
    * in the partition sort, never O(P·N). Contribution sums ride in
    * DECIMAL(38,0)/HUGEINT (P·N overflows Long at 10¹⁰ docs/source).
    *
    * Scale: per-doc scores are q100's artifact-broadcast scan; the
    * AUC pass groups to distinct-score rows (≤ docs, usually far
    * fewer over integer milli-nat scores) and windows per source. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("s"))
      .rowsBetween(Long.MinValue, -1)
    docScores(s, dir)
      .filter(col("doc_id") % TrainMod =!= 0)
      .groupBy(col("source"), col("s"))
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("gp"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("gn"))
      .withColumn("less_n", coalesce(sum(col("gn")).over(bySrc), lit(0L)))
      .withColumn("contrib",
        expr("CAST(gp AS DECIMAL(38,0)) * (2 * less_n + gn)"))
      .groupBy(col("source"))
      .agg(sum(col("gp")).as("n_pos"), sum(col("gn")).as("n_neg"),
        sum(col("contrib")).as("u2"))
      .withColumn("auc_ppm", expr(
        """CASE WHEN n_pos > 0 AND n_neg > 0 THEN CAST(
          |  u2 * 1000000 DIV (CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2)
          |  AS BIGINT) END""".stripMargin))
      .select(col("source"), col("n_pos"), col("n_neg"), col("auc_ppm"))
      .orderBy(col("source"))
  }

  private val q172Sql =
    s"""$scoreCtes, held AS (
       |  SELECT source, s, CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS gp,
       |         CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS gn
       |  FROM p WHERE doc_id % $TrainMod <> 0
       |  GROUP BY source, s
       |), r AS (
       |  SELECT source, gp, gn,
       |         CAST(COALESCE(sum(gn) OVER (PARTITION BY source ORDER BY s
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS less_n
       |  FROM held
       |), a AS (
       |  SELECT source, CAST(sum(gp) AS BIGINT) AS n_pos,
       |         CAST(sum(gn) AS BIGINT) AS n_neg,
       |         sum(CAST(gp AS HUGEINT) * (2 * less_n + gn)) AS u2
       |  FROM r GROUP BY source
       |)
       |SELECT source, n_pos, n_neg,
       |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN CAST(
       |         (u2 * 1000000) // (CAST(n_pos AS HUGEINT) * n_neg * 2) AS BIGINT)
       |       END AS auc_ppm
       |FROM a ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q100_nb_classifier", Some(q100Sql), q100),
    QuerySpec("q104_nb_calibration", Some(q104Sql), q104),
    QuerySpec("q120_gate_agreement", Some(q120Sql), q120),
    QuerySpec("q130_source_gate_matrix", Some(q130Sql), q130),
    QuerySpec("q172_gate_auc", Some(q172Sql), q172),
  )
}
