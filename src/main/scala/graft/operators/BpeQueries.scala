package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE-merge training (Sennrich et al. 2016; the trainer
  * behind every production tokenizer — HuggingFace `tokenizers`,
  * SentencePiece's BPE mode). q37 tokenizes with a FIXED rule; this is
  * the learning side: K iterations of count-adjacent-pairs →
  * merge-argmax → apply-merge, emitting the learned merge table.
  *
  * Distributed shape (the production one): the corpus collapses to a
  * WEIGHTED VOCABULARY first — `groupBy(word).count()` is the only
  * corpus-scale shuffle — and the entire training loop then runs over
  * |V| rows with per-word weights, exactly how real trainers scale
  * (they count words once, then iterate on the word-freq dict). The
  * segmentation state is a per-word symbol ARRAY column, so one merge
  * step is a pure per-row fold (`aggregate` HOF) — embarrassingly
  * parallel, zero exchanges — and the only shuffle per step is the
  * map-side-combined pair count whose argmax is a SINGLE collected row
  * (the q80 fixed-point pattern). An earlier exploded-row formulation
  * (one row per symbol, merges as word-partitioned window pipelines)
  * paid a vocab-char-scale hash(w) exchange per step; the array fold
  * is both the faster and the simpler plan, and is exactly the
  * word-local computation the algorithm is.
  *
  * Exactness: pair counts are integer sums of word frequencies; the
  * argmax tiebreak is (count DESC, left ASC, right ASC); merge
  * application is the standard greedy left-to-right non-overlapping
  * rule (in a run of consecutive matches — only possible when
  * left==right — the 1st, 3rd, … apply). Every step is therefore
  * bit-free exact arithmetic, and the DuckDB oracle replays the SAME
  * K steps as unrolled CTEs (in the exploded row/window formulation —
  * a deliberately DIFFERENT derivation of the same semantics, pinned
  * equal by the oracle compare and BpePropertySpec's direct reference
  * trainer).
  *
  * 100 TB: the corpus term of the cost is one explode + count
  * (map-side combined); the loop cost is K × O(|V|) narrow rows with
  * no corpus rescans and no per-step shuffle of the segmentation. A
  * billion-doc corpus with a 10M-word vocabulary trains in K
  * vocab-sized fold passes over one persisted |V|-row frame — the
  * corpus size only ever enters through the initial count. (Step n
  * re-evaluates the n−1 earlier folds off the cached base — O(K²·|V|)
  * total row-fold ops; per-step checkpointing is the knob if K ever
  * grows beyond tens.) */
object BpeQueries {

  private val MergeSteps = 8

  /** Initial segmentation: one single-char symbol per character. */
  private def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Adjacent symbol pairs of one segmentation array, as
    * struct(sym, nxt) rows; empty for single-symbol words. */
  private def pairsOf(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (a, b) => struct(a.as("sym"), b.as("nxt")))

  /** Apply ONE merge (l, r) to a segmentation array with the standard
    * greedy left-to-right non-overlapping rule: scanning left to
    * right, a pair match emits the merged symbol and consumes both
    * positions (so in a run of consecutive matches — only possible
    * when l == r — the 1st, 3rd, … apply). A single `aggregate` fold
    * over the output array suffices: a just-merged last symbol is
    * l+r, which is strictly longer than l and so can never re-match
    * as the left side of the same merge — consumed positions exclude
    * themselves without any carried flag (BpePropertySpec pins this
    * against the explicit skip-2 scan). Shared by the trainer's loop
    * and [[foldSyms]] (the tokenizer), so the two cannot drift. */
  private def mergeArr(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      lit(Array.empty[String]),
      (out, x) => {
        val hit = size(out) > 0 &&
          element_at(out, -1) === lit(l) && x === lit(r)
        when(hit, concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
          .otherwise(concat(out, array(x)))
      })

  /** The learned merge table for `words` (columns w: string,
    * freq: long): Seq of (step, lhs, rhs, pair_count). Driver-side
    * list — K rows, one collected 1-row argmax per step (the q80
    * fixed-point pattern). `finish` runs against the FINAL
    * segmentation frame (w, freq, syms) while the vocabulary base is
    * still cached — q92 derives its token dictionary there instead of
    * replaying the training a second time.
    *
    * Only the |V|-row vocabulary base is persisted: each step's plan
    * is the stacked per-row folds over that cache (narrow, ≤ K deep),
    * so there is no per-step persist/unpersist churn and no lineage
    * blowup to truncate. AQE is disabled around the loop: the loop
    * frames are vocab-sized, so per-stage adaptive re-planning × K
    * steps is pure latency with nothing to re-optimize. */
  private[graft] def trainCore(words: DataFrame, k: Int)(
      finish: DataFrame => Unit): Seq[(Long, String, String, Long)] =
    QuerySpec.scoped(words.sparkSession, Map("spark.sql.adaptive.enabled" -> "false")) {
      val base = words
        .select(col("w"), col("freq"), charSyms(col("w")).as("syms")).persist()
      var seg = base
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      try {
        var step = 1
        var exhausted = false
        while (step <= k && !exhausted) {
          // pair counting: generator + map-side combine over |V| rows;
          // the argmax is ONE row to the driver
          val best = seg
            .select(col("freq"), explode(pairsOf(col("syms"))).as("p"))
            .groupBy(col("p.sym").as("sym"), col("p.nxt").as("nxt"))
            .agg(sum(col("freq")).as("cnt"))
            .orderBy(col("cnt").desc, col("sym"), col("nxt"))
            .limit(1).collect()
          if (best.isEmpty) exhausted = true
          else {
            val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
            merges += ((step.toLong, l, r, cnt))
            seg = seg.withColumn("syms", mergeArr(col("syms"), l, r))
            step += 1
          }
        }
        finish(seg)
      } finally base.unpersist()
      merges.toSeq
    }

  /** The weighted vocabulary of the documents corpus. Empty words
    * (consecutive/leading/trailing spaces) are excluded: Spark's
    * sequence(1, 0) yields [1, 0] (two phantom empty symbols) where
    * DuckDB's generate_series(1, 0) yields nothing — the one input on
    * which the two engines' initial segmentation (charSyms vs the
    * oracle's generate_series) would silently diverge. */
  /** Word-frequency vocabulary — served from the standing
    * `unigram_counts` artifact (MiningQueries): five call sites across
    * the BPE/unigram family each re-derived the same corpus scan +
    * groupBy (q151 alone ran it twice per execution). Filtering the
    * empty token AFTER the aggregate is row-identical to filtering it
    * before (it only drops the "" group). */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    MiningQueries.unigramCounts(s, dir)
      .filter(length(col("tok")) > 0)
      .select(col("tok").as("w"), col("c").as("freq"))

  // ---------------------------------------------------------------- q91
  /** Learned BPE merge table over the documents corpus: K = 8 steps of
    * (count pairs → merge argmax → apply), output (step, lhs, rhs,
    * pair_count) ordered by step. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trained(s, dir).merges
      .toDF("step", "lhs", "rhs", "pair_count")
      .orderBy(col("step"))
  }

  // ---------------------------------------------------------------- q92
  /** Tokenize WITH the learned vocabulary — the re-tokenized sample
    * that closes the BPE loop: train the K merges and report per
    * source the corpus compression the learned tokens buy (word count,
    * character count, post-BPE token count, chars/token). The token
    * dictionary is read off the trainer's own final segmentation;
    * [[foldSyms]] is the tokenizer for NEW words (same [[mergeArr]]
    * kernel, so trainer and tokenizer cannot drift — BpeQueriesSpec
    * applies learned merges to unseen words).
    *
    * Scale: tokens-per-word is a |V|-row frame broadcast into the
    * corpus-side word explode — the corpus is scanned once and joins a
    * vocab-sized dictionary, exactly how production tokenizers apply a
    * trained vocab. Exhaustion-safe on both sides: if the vocabulary
    * reduces to single symbols in < K merges, trainCore stops early and
    * the oracle's LEFT-joined steps pass the segmentation through
    * unchanged, so the two dictionaries stay identical. */
  /** The learned tokenizer as a STANDING ARTIFACT ([[Artifacts]]) —
    * ONE training run per dataset serves q91 (merge table), q92/q102/
    * q115/q152/q153/q158 (token counting / packing) and q148 (the
    * WordPiece export drift audit). Both fields are driver-BOUNDED at
    * any corpus size: ≤ K merges, ≤ |alphabet| + K pieces. The
    * vocabulary-scale dictionaries derived from them stay DISTRIBUTED
    * ([[ntokDict]] / [[wpDict]]) — nothing |V|-sized is ever collected
    * (an earlier form collected the full dictionary to a
    * LocalRelation, an unbounded driver footprint at a 10M-word
    * production vocabulary).
    *
    * @param merges  learned merge table (step, lhs, rhs, pair_count)
    * @param pieces  the piece inventory: distinct symbols of the final
    *                segmentation (what survives to a serving-side
    *                matcher — a char that always merged is NOT here)
    */
  private[operators] final case class TrainedBpe(
      merges: Seq[(Long, String, String, Long)],
      pieces: Seq[String])

  /** The segmentation of ANY word under the learned merges, as a pure
    * scan-side expression — K stacked [[mergeArr]] folds, exactly the
    * trainer's own construction, so dictionary hit and fallback can
    * never disagree. */
  private[graft] def foldSyms(
      merges: Seq[(Long, String, String, Long)], w: Column): Column =
    merges.foldLeft(charSyms(w)) { case (c, (_, l, r, _)) => mergeArr(c, l, r) }

  /** Escaped array literal of the piece inventory. */
  private def piecesArr(pieces: Seq[String]): String =
    pieces
      .map(p => "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString("array(", ",", ")")

  /** The MaxMatch walk over a word column as a SQL expression: greedy
    * longest-piece-first from the [[TrainedBpe.pieces]] inventory,
    * struct(pos, n, unk) — the rule object [[wpDict]] is built from,
    * once per distinct vocabulary word. */
  private def wpWalkExpr(pieces: Seq[String], wCol: String): String = {
    val pArr = piecesArr(pieces)
    // longest piece matching at position st.pos (0 = no match)
    val m = s"aggregate(filter($pArr, p -> substring($wCol, st.pos, length(p)) = p), " +
      "0, (mx, p) -> greatest(mx, length(p)))"
    s"""aggregate(
       |  sequence(1, length($wCol)),
       |  struct(CAST(1 AS INT) AS pos, CAST(0 AS BIGINT) AS n,
       |         CAST(0 AS BIGINT) AS unk),
       |  (st, i) -> IF(st.pos > length($wCol), st,
       |    struct(CAST(st.pos + greatest($m, 1) AS INT) AS pos,
       |           st.n + 1 AS n,
       |           st.unk + IF($m = 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT))
       |             AS unk)),
       |  st -> st)""".stripMargin
  }

  /** Build-once accessor for the trained artifact. The finish callback
    * runs against the trainer's FINAL cached segmentation (no second
    * replay of the K merges); only the bounded merge table and piece
    * inventory reach the driver. */
  private[operators] def trained(s: SparkSession, dir: String): TrainedBpe =
    Artifacts.value(s, dir, "bpe_trained") {
      var pieces: Seq[String] = null
      val merges = trainCore(vocab(s, dir), MergeSteps) { finalSeg =>
        pieces = finalSeg.select(explode(col("syms")).as("p")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
      }
      TrainedBpe(merges, pieces)
    }

  /** The full (w, n_tok) token dictionary as a DISTRIBUTED standing
    * artifact: the learned merge folds applied once per distinct
    * vocabulary word, materialized executor-side — the driver never
    * holds a |V|-row set (an earlier LocalRelation form did; a
    * production vocabulary is 10⁵–10⁷ words). Consumers equi-join it
    * per occurrence instead of re-folding per occurrence — folding at
    * the corpus grain measured 1.9× slower at sf0.1 even with only a
    * fifth of occurrences off-dictionary. */
  private[operators] def ntokDict(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "bpe_ntok_dict") {
      val t = trained(s, dir)
      vocab(s, dir).select(col("w"),
        size(foldSyms(t.merges, col("w"))).cast("long").as("n_tok"))
    }

  /** Rows in a dictionary artifact small enough to broadcast-hint.
    * Above it, the hint comes OFF and the join strategy is left to
    * the planner (shuffle join across a production-scale vocabulary)
    * — the stats-driven call a catalog-backed planner makes. */
  private val DictBroadcastRows = 1000000L

  private def dictJoined(s: SparkSession, dir: String, dict: DataFrame,
      name: String, df: DataFrame): DataFrame = {
    val rows: java.lang.Long =
      Artifacts.value(s, dir, s"$name:rows")(java.lang.Long.valueOf(dict.count()))
    df.join(if (rows <= DictBroadcastRows) broadcast(dict) else dict, Seq("w"))
  }

  /** Append `n_tok` to a frame with a word column `w` by joining the
    * [[ntokDict]] artifact. INNER join: empty words carry no
    * dictionary entry and drop, exactly as the oracle's `tok` join —
    * callers keep their explicit non-empty filters for plan clarity. */
  private[operators] def withNTok(s: SparkSession, dir: String, df: DataFrame): DataFrame =
    dictJoined(s, dir, ntokDict(s, dir), "bpe_ntok_dict", df)

  /** SQL twin of the token dictionary ([[trained]]'s n_tok semantics,
    * full-vocabulary form — the cap is a pure cache, so the oracle
    * computes every word) (tok) + the per-`key` word explode (sw)
    * both q92Sql and q102Sql build on. */
  private def tokSwCtes(key: String): String =
    s"""tok AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_tok
       |  FROM seg$MergeSteps GROUP BY w
       |), sw AS (
       |  SELECT $key, unnest(string_split(text, ' ')) AS w FROM documents
       |)""".stripMargin

  private def q92(s: SparkSession, dir: String): DataFrame = {
    withNTok(s, dir, Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        Det.rate(col("n_chars").cast("double") / col("n_bpe_tokens")))
      .orderBy(col("source"))
  }

  /** The oracle replays the same K greedy steps as unrolled CTEs —
    * generated, not hand-written, so the two engines' step semantics
    * cannot drift apart silently. The best$n join is LEFT ... ON TRUE
    * (not CROSS): on an exhausted corpus best$n is empty, and the LEFT
    * join passes the segmentation through unchanged (hit = 0 for every
    * row) instead of annihilating seg$n — mirroring trainCore's early
    * stop. */
  private def stepCtes(n: Int): String = {
    val prev = if (n == 1) "seg0" else s"seg${n - 1}"
    s"""lag$n AS MATERIALIZED (
       |  SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
       |         row_number() OVER (PARTITION BY w ORDER BY pos) AS idx
       |  FROM $prev
       |), best$n AS MATERIALIZED (
       |  SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM lag$n WHERE nxt IS NOT NULL GROUP BY sym, nxt
       |  ORDER BY cnt DESC, l, r LIMIT 1
       |), run$n AS MATERIALIZED (
       |  SELECT *, CASE WHEN hit = 1 THEN row_number() OVER
       |           (PARTITION BY w, hit, grp ORDER BY idx) END AS runpos
       |  FROM (
       |    SELECT *, CASE WHEN hit = 1 THEN idx - row_number() OVER
       |             (PARTITION BY w, hit ORDER BY idx) END AS grp
       |    FROM (SELECT g.*, CASE WHEN g.sym = b.l AND g.nxt = b.r
       |                           THEN 1 ELSE 0 END AS hit
       |          FROM lag$n g LEFT JOIN best$n b ON TRUE))
       |), app$n AS MATERIALIZED (
       |  SELECT *, CASE WHEN hit = 1 AND runpos % 2 = 1 THEN 1 ELSE 0 END AS applied
       |  FROM run$n
       |), seg$n AS MATERIALIZED (
       |  SELECT w, freq, pos,
       |         CASE WHEN applied = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM (SELECT *, lag(applied, 1, 0) OVER (PARTITION BY w ORDER BY pos)
       |               AS prev_applied FROM app$n)
       |  WHERE prev_applied = 0
       |)""".stripMargin
  }

  /** Shared CTE prefix: vocabulary, char segmentation, and the K
    * unrolled training steps (seg$K is the final segmentation). */
  private val ctePrefix: String = {
    val steps = (1 to MergeSteps).map(stepCtes).mkString(",\n")
    s"""WITH w AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0
       |  GROUP BY w
       |), seg0 AS MATERIALIZED (
       |  SELECT w, freq, i AS pos, substr(w, i, 1) AS sym
       |  FROM w, unnest(generate_series(1, len(w))) AS u(i)
       |),
       |$steps""".stripMargin
  }

  private val q91Sql = {
    val out = (1 to MergeSteps)
      .map(n => s"SELECT CAST($n AS BIGINT) AS step, l AS lhs, r AS rhs, cnt AS pair_count FROM best$n")
      .mkString("\nUNION ALL\n")
    s"""$ctePrefix
       |$out
       |ORDER BY step""".stripMargin
  }

  private val q92Sql =
    s"""$ctePrefix,
       |${tokSwCtes("source")}
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |       CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
       |       floor(CAST(sum(len(w)) AS DOUBLE) / sum(n_tok) * 1e6 + 0.5) / 1e6
       |         AS chars_per_token
       |FROM sw JOIN tok USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q102
  /** End-to-end training-batch builder: the learned tokenizer's per-doc
    * token counts feed bucketed sequence packing — train the K merges
    * (q91), count each document's BPE tokens with the learned
    * dictionary (q92's broadcast shape), then assign docs to
    * fixed-token-budget packs with q75's bucketed running-sum rule.
    * Output: one row per (bucket, pack) with doc count, BPE-token
    * count, distinct sources mixed into the pack, and fill rate — the
    * pack manifest a trainer's data loader reads.
    *
    * Scale: the corpus is scanned three times — the vocabulary count
    * that training runs on, the tokenize explode, and the
    * column-pruned (doc_id, source) base of the LEFT join — and every
    * pass joins only broadcast vocab-sized frames; packing then
    * shuffles one 16-byte (doc_id, tok) pair per doc into B
    * independent bucket windows — no global sort, parallelism = B.
    * Docs whose words all miss the dictionary (empty text) pack with
    * tok = 0 via the LEFT join rather than vanishing. */
  private val PackBudget = 4096
  private val PackBuckets = 8

  /** Per-doc pack assignment (doc_id, source, tok, bucket, pack) —
    * q102's batching rule factored out so the contamination audit
    * (q152) grades EXACTLY the packs q102 ships, and the deduped
    * packer (q153) packs a RESTRICTED doc population with the same
    * rule (pack numbering runs over the kept docs only). */
  private def packAssignment(
      s: SparkSession, dir: String, keep: Option[DataFrame] = None): DataFrame = {
    val docs0 = Tables.documents(s, dir)
    val docs = keep.fold(docs0)(k => docs0.join(k.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val perDoc = withNTok(s, dir, docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      .groupBy(col("doc_id")).agg(sum(col("n_tok")).as("tok"))
    val assigned = docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("tok"))
      .withColumn("bucket", col("doc_id") % PackBuckets)
    val seq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    assigned
      .withColumn("cum", sum(col("tok")).over(seq))
      .withColumn("pack",
        floor((col("cum") - col("tok")).cast("double") / PackBudget).cast("long"))
  }

  private def q102(s: SparkSession, dir: String): DataFrame =
    packAssignment(s, dir)
      .groupBy(col("bucket"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("fill_rate",
        Det.rate(col("pack_tokens").cast("double") / PackBudget))
      .orderBy(col("bucket"), col("pack"))

  private val q102Sql =
    s"""$ctePrefix,
       |${tokSwCtes("doc_id")}, dtok AS (
       |  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS tok
       |  FROM sw JOIN tok USING (w) GROUP BY doc_id
       |), assigned AS (
       |  SELECT d.doc_id, d.source, COALESCE(dtok.tok, 0) AS tok,
       |         d.doc_id % $PackBuckets AS bucket
       |  FROM documents d LEFT JOIN dtok USING (doc_id)
       |), c AS (
       |  SELECT bucket, doc_id, source, tok,
       |         CAST(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM assigned
       |)
       |SELECT bucket,
       |       CAST(floor(CAST(cum - tok AS DOUBLE) / $PackBudget) AS BIGINT) AS pack,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |       floor(CAST(sum(tok) AS DOUBLE) / $PackBudget * 1e6 + 0.5) / 1e6
       |         AS fill_rate
       |FROM c GROUP BY bucket, pack ORDER BY bucket, pack""".stripMargin

  // --------------------------------------------------------------- q115
  /** Tokenizer fertility audit per LANGUAGE — the multilingual-fairness
    * read of the learned q91 vocabulary (NLLB / UniMax reporting):
    * fertility = BPE tokens per whitespace word, and the premium each
    * language pays relative to English (a BPE trained on an en-heavy
    * corpus spends more subword tokens per word on low-resource
    * languages — which silently shrinks their effective share of any
    * token-denominated budget like q114's). q92 reports compression per
    * SOURCE; this is the same learned dictionary read along the axis
    * that decides whether a language budget is fair in TOKENS vs WORDS.
    *
    * premium_vs_en divides the two unrounded double fertilities (same
    * IEEE ops both engines); only the outputs are Det.rate-rounded.
    * Empty words (consecutive spaces) carry no dictionary entry and
    * drop from the inner join on both sides, exactly as in q92.
    *
    * Scale: q92's shape — |V|-row dictionary broadcast into one corpus
    * explode, map-side-combined to |langs| rows; the en-baseline window
    * runs on that tiny frame. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val fert = col("n_bpe_tokens").cast("double") / col("n_words")
    withNTok(s, dir, Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
      .withColumn("en_fert", max(when(col("lang") === "en", fert)).over(whole))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        Det.rate(fert).as("fertility"),
        Det.rate(fert / col("en_fert")).as("premium_vs_en"))
      .orderBy(col("lang"))
  }

  private val q115Sql =
    s"""$ctePrefix,
       |${tokSwCtes("lang")}, per AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |         CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
       |  FROM sw JOIN tok USING (w) GROUP BY lang
       |), wf AS (
       |  SELECT *, CAST(n_bpe_tokens AS DOUBLE) / n_words AS f,
       |         max(CASE WHEN lang = 'en'
       |                  THEN CAST(n_bpe_tokens AS DOUBLE) / n_words END)
       |           OVER () AS ef
       |  FROM per
       |)
       |SELECT lang, n_words, n_chars, n_bpe_tokens,
       |       floor(f * 1e6 + 0.5) / 1e6 AS fertility,
       |       floor(f / ef * 1e6 + 0.5) / 1e6 AS premium_vs_en
       |FROM wf ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q148
  /** WordPiece-style greedy longest-match tokenization (Song et al.
    * 2021, "Fast WordPiece Tokenization" — the MaxMatch family) with
    * the BPE-LEARNED piece inventory, reported against q92's
    * merge-order segmentation: when a trained BPE vocab is exported
    * to a maximum-munch runtime matcher (the standard serving-side
    * move — HuggingFace's WordPiece, BERT's tokenizer), the two
    * algorithms can disagree on token boundaries even with the
    * IDENTICAL piece set, and this query measures exactly that drift
    * — per source, BPE vs greedy token volume, words that segment
    * differently, and characters that fall through to UNK (a char
    * that always merged during training never appears as a standalone
    * piece, so max-munch can strand it).
    *
    * The matcher is a scan-side `aggregate` fold over the word's
    * positions: at each unconsumed position take the LONGEST piece
    * matching there (one nested fold over the ≤ |pieces| literal
    * inventory), else consume one char as UNK. O(len·|P|) per word
    * on the |V|-row distinct-word frame — production replaces the
    * literal scan with a trie (LinMaxMatch is O(len)), but the
    * SEMANTICS pinned here are the trie's exactly. The oracle replays
    * the same walk as a DuckDB recursive CTE over a precomputed
    * (word, pos) → longest-match table, so both engines take
    * identical steps.
    *
    * Scale: pieces are a ≤ |alphabet| + K driver list (the trained
    * artifact — same boundedness as q99's LM closure); both walks run
    * once per DISTINCT vocabulary word into the DISTRIBUTED [[wpDict]]
    * standing artifact, which the corpus explode equi-joins (the
    * corpus never sees the fold). */
  /** q148's per-word drift dictionary (w, bpe_tok, wp_tok, wp_unk) as
    * a distributed standing artifact — [[ntokDict]]'s shape with the
    * MaxMatch walk alongside the merge fold. */
  private def wpDict(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "bpe_wp_dict") {
      val t = trained(s, dir)
      vocab(s, dir)
        .select(col("w"), size(foldSyms(t.merges, col("w"))).cast("long").as("bpe_tok"))
        .withColumn("wp", expr(wpWalkExpr(t.pieces, "w")))
        .select(col("w"), col("bpe_tok"),
          col("wp.n").as("wp_tok"), col("wp.unk").as("wp_unk"))
    }

  private def q148(s: SparkSession, dir: String): DataFrame =
    dictJoined(s, dir, wpDict(s, dir), "bpe_wp_dict",
        Tables.documents(s, dir)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("bpe_tok")).as("n_bpe_tokens"),
        sum(col("wp_tok")).as("n_wp_tokens"),
        sum(col("wp_unk")).as("n_unk"),
        sum(when(col("wp_tok") =!= col("bpe_tok"), 1L).otherwise(0L))
          .as("diff_words"))
      .withColumn("diff_ppm", expr("(diff_words * 1000000) DIV n_words"))
      .orderBy(col("source"))

  private val q148Sql =
    s"""${ctePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pieces AS MATERIALIZED (
       |  SELECT DISTINCT sym AS p FROM seg$MergeSteps
       |), cand AS MATERIALIZED (
       |  SELECT t.w, t.pos, CAST(max(length(pc.p)) AS INT) AS m
       |  FROM (SELECT w.w, u.i AS pos
       |        FROM w, unnest(generate_series(1, len(w.w))) AS u(i)) t
       |  JOIN pieces pc ON substr(t.w, t.pos, length(pc.p)) = pc.p
       |  GROUP BY t.w, t.pos
       |), walk AS (
       |  SELECT w AS w, CAST(1 AS INT) AS pos, CAST(0 AS BIGINT) AS n,
       |         CAST(0 AS BIGINT) AS unk
       |  FROM w
       |  UNION ALL
       |  SELECT k.w, CAST(k.pos + COALESCE(c.m, 1) AS INT), k.n + 1,
       |         k.unk + CASE WHEN c.m IS NULL THEN 1 ELSE 0 END
       |  FROM walk k LEFT JOIN cand c ON c.w = k.w AND c.pos = k.pos
       |  WHERE k.pos <= len(k.w)
       |), wp AS (
       |  SELECT w, n AS wp_tok, unk AS wp_unk FROM walk WHERE pos > len(w)
       |), bpe AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS bpe_tok
       |  FROM seg$MergeSteps GROUP BY w
       |), sw AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(b.bpe_tok) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(p.wp_tok) AS BIGINT) AS n_wp_tokens,
       |       CAST(sum(p.wp_unk) AS BIGINT) AS n_unk,
       |       CAST(sum(CASE WHEN p.wp_tok <> b.bpe_tok THEN 1 ELSE 0 END)
       |            AS BIGINT) AS diff_words,
       |       (CAST(sum(CASE WHEN p.wp_tok <> b.bpe_tok THEN 1 ELSE 0 END)
       |             AS BIGINT) * 1000000) // count(*) AS diff_ppm
       |FROM sw JOIN wp p USING (w) JOIN bpe b USING (w)
       |WHERE len(sw.w) > 0
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q151
  /** Unigram-LM (SentencePiece-style) Viterbi tokenization — Kudo
    * 2018, "Subword Regularization", the third tokenizer family after
    * merge-order BPE (q91/q92) and greedy WordPiece (q148): score
    * every candidate piece by its corpus frequency, then segment each
    * word on the MINIMUM-COST path under additive −log piece costs
    * (the unigram model's Viterbi decode; one hard-EM E-step of the
    * full trainer). Candidates are all substrings up to
    * [[UniPieceLen]] chars, pruned to the top-[[UniPieceCap]]
    * multi-char pieces by weighted count (q99's vocabulary-cap
    * discipline — the artifact stays bounded at any corpus size) plus
    * ALL single chars, which keeps the DP total (SentencePiece seeds
    * from a capped suffix-array candidate set the same way).
    *
    * Exactness: piece costs are exact milli-nat integers off the
    * graft_ln_small ladder; the DP minimizes the PAIR (cost,
    * n_pieces) lexicographically — encoded as cost·32 + n (word
    * length is capped at [[UniWordLen]] < 32) so integer min IS the
    * lexicographic min and ties cannot produce engine-dependent token
    * counts. The oracle replays the identical DP as position-unrolled
    * CTEs (one per prefix length, the q91 unrolling move).
    *
    * Output per source: words, chars, unigram tokens, total path cost
    * (milli-nats), chars/token — q92's report under the third
    * tokenizer, directly comparable.
    *
    * Scale: candidate counting is one |V|-row substring explode (≤
    * len·L pieces per word); the ≤ (cap + alphabet)-row cost table is
    * a driver list baked into the scan-side DP literal (the trained
    * artifact, q148's move); the DP folds once per DISTINCT word and
    * the corpus joins the |V|-row result by broadcast. */
  private val UniPieceLen = 4
  private val UniPieceCap = 64
  private val UniWordLen = 16

  /** Piece cost table (piece → milli-nat cost), driver-side. A
    * STANDING trained artifact like `bpe_trained` (the unigram-LM
    * tokenizer's model state — SentencePiece ships exactly this table
    * in its .model file): memoized per (corpus), re-derived inline
    * under `spark.graft.artifacts=off`. */
  private def uniPieces(s: SparkSession, dir: String): Seq[(String, Long)] =
    Artifacts.value(s, dir, "uni_pieces")(uniPiecesBuild(s, dir))

  private def uniPiecesBuild(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val words = vocab(s, dir).filter(length(col("w")) <= UniWordLen)
    val pc = words
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> transform(sequence(1, least($UniPieceLen, length(w) - i + 1)),
           |                 l -> substring(w, i, l))))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("c"))
    val kept = pc.filter(length(col("p")) > 1)
      .orderBy(col("c").desc, col("p")).limit(UniPieceCap)
      .unionByName(pc.filter(length(col("p")) === 1))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    kept
      .withColumn("t", sum(col("c")).over(whole))
      .select(col("p"), (-EventQueries.lnSmallWeight(col("c"), col("t"))).as("cost"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  private def q151(s: SparkSession, dir: String): DataFrame = {
    val pieces = uniPieces(s, dir)
    val mapLit = pieces
      .map { case (p, c) =>
        "'" + p.replace("\\", "\\\\").replace("'", "\\'") + s"', CAST($c AS BIGINT)"
      }
      .mkString("map(", ", ", ")")
    // NATIVE DP (round 15, guide §4): the `aggregate` HOF fold is a
    // CodegenFallback — every DP step interpreted, and each arm's two
    // element_at lookups LINEAR-scan the ~(cap+alphabet)-entry map
    // literal with UTF8String compares. graft_uni_viterbi replays the
    // identical integer DP (UniViterbiSpec pins fold == native on the
    // real vocab) as one hash-lookup loop inside the codegen span.
    val encExpr = expr(s"graft_uni_viterbi(w, $mapLit, $UniPieceLen)")
    val dict = vocab(s, dir).filter(length(col("w")) <= UniWordLen)
      .withColumn("enc", encExpr)
      .select(col("w"), expr("enc % 32").as("n_uni"), expr("enc DIV 32").as("cost"))
    Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(dict), Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_uni")).as("n_uni_tokens"),
        sum(col("cost")).as("corpus_cost_mnat"))
      .withColumn("chars_per_token",
        Det.rate(col("n_chars").cast("double") / col("n_uni_tokens")))
      .orderBy(col("source"))
  }

  private val q151Sql = {
    val ladder = EventQueries.lnSmallWeightSql("c", "t")
    val dpSteps = (1 to UniWordLen).map { i =>
      val arms = (1 to math.min(UniPieceLen, i)).map { l =>
        s"""  SELECT d.w, ((d.enc // 32) + c.cost) * 32 + (d.enc % 32 + 1) AS enc
           |  FROM dp${i - l} d JOIN pcost c
           |    ON len(c.p) = $l AND c.p = substr(d.w, ${i - l + 1}, $l)
           |  WHERE len(d.w) >= $i""".stripMargin
      }.mkString("\n  UNION ALL\n")
      // MATERIALIZED: dp_i is referenced by up to UniPieceLen later
      // steps — without the hint DuckDB 1.0 INLINES each reference,
      // expanding the chain exponentially (observed: fd exhaustion
      // from thousands of duplicated base scans)
      s"""dp$i AS MATERIALIZED (
         |  SELECT w, CAST(min(enc) AS BIGINT) AS enc FROM (
         |$arms
         |  ) GROUP BY w
         |)""".stripMargin
    }.mkString(",\n")
    val fin = (1 to UniWordLen)
      .map(i => s"SELECT w, enc FROM dp$i WHERE len(w) = $i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w
       |), wv AS MATERIALIZED (
       |  SELECT * FROM w0 WHERE len(w) <= $UniWordLen
       |), subs AS (
       |  SELECT substr(w, i, l) AS p, freq
       |  FROM wv,
       |       unnest(generate_series(1, len(w))) AS u(i),
       |       unnest(generate_series(1, $UniPieceLen)) AS v(l)
       |  WHERE i + l - 1 <= len(w)
       |), pc AS (
       |  SELECT p, CAST(sum(freq) AS BIGINT) AS c FROM subs GROUP BY p
       |), kept AS (
       |  SELECT * FROM (SELECT * FROM pc WHERE len(p) > 1
       |                 ORDER BY c DESC, p LIMIT $UniPieceCap)
       |  UNION ALL
       |  SELECT * FROM pc WHERE len(p) = 1
       |), tt AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS t FROM kept
       |), pcost AS MATERIALIZED (
       |  SELECT p, CAST(-$ladder AS BIGINT) AS cost FROM kept, tt
       |), dp0 AS MATERIALIZED (
       |  SELECT w, CAST(0 AS BIGINT) AS enc FROM wv
       |),
       |$dpSteps,
       |fin AS (
       |  $fin
       |), dict AS (
       |  SELECT w, enc % 32 AS n_uni, enc // 32 AS cost FROM fin
       |), sw AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |       CAST(sum(n_uni) AS BIGINT) AS n_uni_tokens,
       |       CAST(sum(cost) AS BIGINT) AS corpus_cost_mnat,
       |       floor(CAST(sum(len(w)) AS DOUBLE) / sum(n_uni) * 1e6 + 0.5) / 1e6
       |         AS chars_per_token
       |FROM sw JOIN dict USING (w)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q152
  /** In-batch near-dup contamination audit for contrastive training:
    * when q102's packs double as contrastive batches (in-batch
    * negatives — SimCLR/DPR's standard trick), a near-duplicate pair
    * landing in the SAME pack becomes a FALSE negative: the loss
    * pushes apart two texts that are the same content, which is a
    * known silent quality killer in embedding training. This audit
    * joins q26's exact-Jaccard near-dup pairs against the pack
    * assignment q102 ships ([[packAssignment]] — the identical rule,
    * factored, so the audit can never grade different packs than the
    * builder built) and reports the one-row risk summary: near-dup
    * pairs, same-bucket pairs, co-packed pairs, contaminated packs
    * and their ppm of all packs. A non-zero co-packed count is the
    * actionable signal to dedup BEFORE batching — feed the packer
    * q97/q150's canonical survivors so a family contributes at most
    * one member per batch (q153 is exactly that composition, and its
    * audit must read zero).
    *
    * Scale: the pair list is already candidate-pruned by the q26
    * kernel; it joins the narrow (doc_id, bucket, pack) frame twice
    * by id — digest-width rows, no text. The pack-count denominator
    * is a distinct-agg over the |docs|-row assignment. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val pk = packAssignment(s, dir).select(col("doc_id"), col("bucket"), col("pack"))
    val joined = DedupQueries.jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .join(pk.select(col("doc_id").as("doc_a"),
        col("bucket").as("ba"), col("pack").as("pa")), Seq("doc_a"))
      .join(pk.select(col("doc_id").as("doc_b"),
        col("bucket").as("bb"), col("pack").as("pb")), Seq("doc_b"))
      .withColumn("co_packed", col("ba") === col("bb") && col("pa") === col("pb"))
    // coalesce the sums so a clean corpus (no near-dup pairs) yields an
    // explicit one-row zero summary, matching the oracle's agg-CTE form
    joined.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("ba") === col("bb"), 1L).otherwise(0L)), lit(0L))
          .as("same_bucket_pairs"),
        coalesce(sum(when(col("co_packed"), 1L).otherwise(0L)), lit(0L))
          .as("co_packed_pairs"),
        countDistinct(when(col("co_packed"),
          concat_ws(":", col("ba"), col("pa")))).as("contaminated_packs"))
      .crossJoin(broadcast(
        pk.agg(countDistinct(concat_ws(":", col("bucket"), col("pack")))
          .as("total_packs"))))
      .withColumn("contaminated_ppm",
        expr("(contaminated_packs * 1000000) DIV total_packs"))
  }

  private val q152Sql =
    s"""$ctePrefix,
       |${tokSwCtes("doc_id")}, dtok AS (
       |  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS tok
       |  FROM sw JOIN tok USING (w) GROUP BY doc_id
       |), assigned AS (
       |  SELECT d.doc_id, COALESCE(dtok.tok, 0) AS tok,
       |         d.doc_id % $PackBuckets AS bucket
       |  FROM documents d LEFT JOIN dtok USING (doc_id)
       |), pkk AS MATERIALIZED (
       |  SELECT doc_id, bucket,
       |         CAST(floor(CAST(cum - tok AS DOUBLE) / $PackBudget) AS BIGINT) AS pack
       |  FROM (SELECT bucket, doc_id, tok,
       |               CAST(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |        FROM assigned)
       |), sh2 AS MATERIALIZED (${DedupQueries.shinglesSql}),
       |rare2 AS MATERIALIZED (SELECT s FROM sh2 GROUP BY s HAVING count(*) <= 25),
       |rs2 AS MATERIALIZED (
       |  SELECT sh2.doc_id, sh2.s FROM sh2 JOIN rare2 ON sh2.s = rare2.s
       |), sz2 AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM rs2 GROUP BY doc_id
       |), int2 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs2 a JOIN rs2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |), prs AS (
       |  SELECT doc_a, doc_b FROM int2
       |  JOIN sz2 za ON za.doc_id = doc_a
       |  JOIN sz2 zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5)
       |          / 1e6 >= 0.3
       |), ann AS (
       |  SELECT p.doc_a, p.doc_b, a.bucket AS ba, a.pack AS pa,
       |         b.bucket AS bb, b.pack AS pb
       |  FROM prs p
       |  JOIN pkk a ON a.doc_id = p.doc_a
       |  JOIN pkk b ON b.doc_id = p.doc_b
       |), tp AS (
       |  SELECT CAST(count(DISTINCT CAST(bucket AS VARCHAR) || ':'
       |                             || CAST(pack AS VARCHAR)) AS BIGINT)
       |           AS total_packs
       |  FROM pkk
       |), agg AS (
       |  -- global agg over ann: exactly one row even when ann is empty
       |  -- (clean corpus), so the audit always emits its zero summary
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(COALESCE(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END), 0)
       |              AS BIGINT) AS same_bucket_pairs,
       |         CAST(COALESCE(sum(CASE WHEN ba = bb AND pa = pb
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS co_packed_pairs,
       |         CAST(count(DISTINCT CASE WHEN ba = bb AND pa = pb
       |                                  THEN CAST(ba AS VARCHAR) || ':'
       |                                       || CAST(pa AS VARCHAR) END) AS BIGINT)
       |           AS contaminated_packs
       |  FROM ann
       |)
       |SELECT agg.n_pairs, agg.same_bucket_pairs, agg.co_packed_pairs,
       |       agg.contaminated_packs, tp.total_packs,
       |       (agg.contaminated_packs * 1000000) // tp.total_packs
       |         AS contaminated_ppm
       |FROM agg, tp""".stripMargin


  // --------------------------------------------------------------- q153
  /** Dedup-then-pack — the mitigation q152's audit calls for, shipped
    * as a pipeline composition: q97's canonical survivors (longest
    * member per q54 near-dup family, lowest doc_id on ties) feed
    * q102's packer ([[packAssignment]] with the survivor restriction
    * — same rule object, pack numbering over the kept docs only), so
    * a near-dup family contributes AT MOST one member to any pack and
    * the in-batch false-negative channel is closed STRUCTURALLY:
    * every q26 pair has both endpoints inside one component, exactly
    * one of which survives — co-packed pairs are zero by construction,
    * not by luck (CurationOpsSpec re-runs the q152 audit arithmetic
    * over these packs and pins the zero; the oracle pins the
    * manifest). The tokenizer stays the FULL-corpus dictionary —
    * dedup changes what you train on, not how you tokenize, and
    * keeping the dictionary fixed is what makes the q102 manifest
    * comparison read as a pure dedup effect.
    *
    * Output: q102's manifest grain over the deduped corpus — per
    * (bucket, pack): docs, tokens, distinct sources, fill rate.
    *
    * Scale: q54's clustering envelope + one window for the survivor
    * pick + q102's packing envelope — each documented at its source;
    * the composition adds only the survivor semi-join on doc_id. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val survivors = CorpusQueries.clusterMap(s, dir)
      .select(col("doc_id"), col("component_id"))
      .join(st, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component_id"))
          .orderBy(col("n_tok").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"))
    packAssignment(s, dir, Some(survivors))
      .groupBy(col("bucket"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("fill_rate",
        Det.rate(col("pack_tokens").cast("double") / PackBudget))
      .orderBy(col("bucket"), col("pack"))
  }

  private val q153Sql =
    s"""${CorpusQueries.ccPrefix},
       |${ctePrefix.replaceFirst("WITH ", "")},
       |${tokSwCtes("doc_id")}, dtok AS (
       |  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS tok
       |  FROM sw JOIN tok USING (w) GROUP BY doc_id
       |), st3 AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |), surv AS MATERIALIZED (
       |  SELECT doc_id, source FROM (
       |    SELECT c.doc_id, st3.source,
       |           row_number() OVER (PARTITION BY c.component_id
       |                              ORDER BY st3.n_tok DESC, c.doc_id) AS rn
       |    FROM comp c JOIN st3 ON st3.doc_id = c.doc_id)
       |  WHERE rn = 1
       |), assigned3 AS (
       |  SELECT sv.doc_id, sv.source, COALESCE(dtok.tok, 0) AS tok,
       |         sv.doc_id % $PackBuckets AS bucket
       |  FROM surv sv LEFT JOIN dtok USING (doc_id)
       |), c3 AS (
       |  SELECT bucket, doc_id, source, tok,
       |         CAST(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM assigned3
       |)
       |SELECT bucket,
       |       CAST(floor(CAST(cum - tok AS DOUBLE) / $PackBudget) AS BIGINT) AS pack,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |       floor(CAST(sum(tok) AS DOUBLE) / $PackBudget * 1e6 + 0.5) / 1e6
       |         AS fill_rate
       |FROM c3 GROUP BY bucket, pack ORDER BY bucket, pack""".stripMargin

  // --------------------------------------------------------------- q158
  /** Pack-budget operating curve — the knob-choice read for q102's
    * batch builder (q129's "measure the knob" discipline applied to
    * packing): for budgets B ∈ {1024, 2048, 4096, 8192}, the packs
    * q102's rule would build, graded by under-fill (padding a trainer
    * would burn) and straddle-overflow (tokens past the budget that a
    * truncating loader would cut) — small B wastes little but cuts
    * more, large B pads the final partial pack of each bucket. The
    * running token total per bucket is BUDGET-INDEPENDENT, so ONE
    * cumulative window serves all four budgets: the per-doc (cum,
    * tok) frame explodes across the budget literals and only the
    * |budgets|·|packs| rollup differs.
    *
    * Exactness: pack = (cum − tok) DIV B on exact token counts;
    * under-fill and overflow are integer max(0, ·) sums; ppm by DIV
    * against the bucket-total token volume.
    *
    * Scale: q102's envelope + a 4× explode of the NARROW (bucket,
    * pack keys, two longs) frame — the corpus is scanned once and the
    * tokenizer dictionary broadcast once, regardless of how many
    * budgets the sweep grades. */
  private val CurveBudgets = Seq(1024L, 2048L, 4096L, 8192L)

  private def q158(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val perDoc = withNTok(s, dir, docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      .groupBy(col("doc_id")).agg(sum(col("n_tok")).as("tok"))
    val seq0 = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assigned = docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("tok"))
      .withColumn("bucket", col("doc_id") % PackBuckets)
      .withColumn("cum", sum(col("tok")).over(seq0))
    val budgets = CurveBudgets.map(b => s"${b}L").mkString("array(", ",", ")")
    val packs = assigned
      .select(col("bucket"), col("tok"), col("cum"),
        explode(expr(budgets)).as("budget"))
      .withColumn("pack", expr("(cum - tok) DIV budget"))
      .groupBy(col("budget"), col("bucket"), col("pack"))
      .agg(sum(col("tok")).as("pt"))
    packs.groupBy(col("budget"))
      .agg(count(lit(1)).as("n_packs"), sum(col("pt")).as("total_tokens"),
        sum(greatest(lit(0L), col("budget") - col("pt"))).as("pad_tokens"),
        sum(greatest(lit(0L), col("pt") - col("budget"))).as("overflow_tokens"))
      .withColumn("pad_ppm", expr("(pad_tokens * 1000000) DIV total_tokens"))
      .withColumn("overflow_ppm",
        expr("(overflow_tokens * 1000000) DIV total_tokens"))
      .orderBy(col("budget"))
  }

  private val q158Sql = {
    val budgets = CurveBudgets.mkString("[", ", ", "]")
    s"""$ctePrefix,
       |${tokSwCtes("doc_id")}, dtok AS (
       |  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS tok
       |  FROM sw JOIN tok USING (w) GROUP BY doc_id
       |), asg8 AS (
       |  SELECT d.doc_id, COALESCE(dtok.tok, 0) AS tok,
       |         d.doc_id % $PackBuckets AS bucket
       |  FROM documents d LEFT JOIN dtok USING (doc_id)
       |), cm AS (
       |  SELECT bucket, doc_id, tok,
       |         CAST(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM asg8
       |), ex8 AS (
       |  SELECT bucket, tok, cum, CAST(b AS BIGINT) AS budget
       |  FROM cm, unnest($budgets::BIGINT[]) AS u(b)
       |), pk8 AS (
       |  SELECT budget, bucket, (cum - tok) // budget AS pack,
       |         CAST(sum(tok) AS BIGINT) AS pt
       |  FROM ex8 GROUP BY 1, 2, 3
       |)
       |SELECT budget, CAST(count(*) AS BIGINT) AS n_packs,
       |       CAST(sum(pt) AS BIGINT) AS total_tokens,
       |       CAST(sum(greatest(0, budget - pt)) AS BIGINT) AS pad_tokens,
       |       CAST(sum(greatest(0, pt - budget)) AS BIGINT) AS overflow_tokens,
       |       (CAST(sum(greatest(0, budget - pt)) AS BIGINT) * 1000000)
       |         // CAST(sum(pt) AS BIGINT) AS pad_ppm,
       |       (CAST(sum(greatest(0, pt - budget)) AS BIGINT) * 1000000)
       |         // CAST(sum(pt) AS BIGINT) AS overflow_ppm
       |FROM pk8 GROUP BY budget ORDER BY budget""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q91_bpe_merges", Some(q91Sql), q91),
    QuerySpec("q92_bpe_tokenize", Some(q92Sql), q92),
    QuerySpec("q102_bpe_packing", Some(q102Sql), q102, aqe = false),
    QuerySpec("q115_bpe_fertility", Some(q115Sql), q115),
    QuerySpec("q148_wordpiece_drift", Some(q148Sql), q148),
    QuerySpec("q151_unigram_viterbi", Some(q151Sql), q151, aqe = false),
    QuerySpec("q152_pack_contamination", Some(q152Sql), q152),
    QuerySpec("q153_dedup_packing", Some(q153Sql), q153),
    QuerySpec("q158_budget_curve", Some(q158Sql), q158),
  )
}
