package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (BASELINE.json north_star):
  * exact (hash-groupBy), MinHash+LSH near-dup, n-gram Jaccard, SimHash.
  *
  * Every hash is md5 (bit-identical in Spark and DuckDB), so even the
  * MinHash signatures and LSH band hashes are oracle-checkable — the
  * whole shingle→minhash→band→bucket-join→verify pipeline runs in both
  * engines and must agree exactly.
  *
  * Scale notes (100 TB): all pipelines are explode + hash-agg + equi-join
  * — no cross joins. The LSH band join keys on (band, band_hash), so
  * candidate generation shuffles only 16-byte signatures, never text.
  * The exact-Jaccard inverted-index join drops shingles with document
  * frequency > 25 (stop-shingles): a shingle seen in d docs contributes
  * d² join pairs, so ultra-common shingles are both useless for dedup
  * and quadratic at scale — the standard mitigation.
  */
object DedupQueries {

  private val NumHashes = 16
  // 4 bands × 4 rows: p_candidate = 1-(1-J⁴)⁴ → 0.99 at J=0.9, ~0.2 at
  // J=0.5, ~1e-5 at the J≈0.03 corpus background. Wider rows-per-band is
  // what keeps candidate volume (and the verify join) sub-quadratic on a
  // small-vocabulary corpus where 2-row bands collide massively; recall
  // loss only affects which TRUE pairs are candidates, and the oracle
  // replicates candidate generation exactly, so parity holds under any
  // parameter choice.
  private val RowsPerBand = 4

  /** The word-bigram shingle frame as a STANDING ARTIFACT
    * ([[Artifacts]]): (doc_id, s) is the substrate of the whole
    * near-dup family (posting index, MinHash bands, recall/precision
    * harnesses) — one corpus explode per dataset, read thereafter. */
  private[operators] def shingles(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "shingles")(shinglesBuild(s, dir))

  /** Distinct word-bigram shingles per doc: (doc_id, s). Tables.spread
    * spreads the per-doc shingle/hash work across cores — a small
    * documents parquet arrives as ONE scan partition in local mode,
    * which would otherwise serialize the whole minhash compute (and an
    * un-counted `repartition(col)` gets AQE-coalesced right back);
    * at 100 TB the scan is naturally partitioned and this is a cheap
    * doc_id-hash shuffle of raw text rows. */
  private def shinglesBuild(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      // native bigram kernel (byte-identical on split() output, whose
      // tokens are never null — WordGramsSpec)
      .select(col("doc_id"), explode(array_distinct(
        expr("graft_grams(t, 2)"))).as("s"))

  private[operators] val shinglesSql =
    """SELECT doc_id,
      |       unnest(list_distinct(list_transform(generate_series(0, len(t)-2),
      |              i -> t[i+1] || ' ' || t[i+2]))) AS s
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |WHERE len(t) >= 2""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Exact dedup: hash-groupBy on content, keep the smallest doc_id
    * (deterministic canonical representative). */
  private def q24(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dupes"))
      .orderBy(col("keep_id"))

  private val q24Sql =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dupes
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- q25
  /** MinHash + LSH near-dup detection, verified with exact Jaccard:
    * shingle → 16 minhashes (min of md5(h:shingle)) → 8 band signatures
    * → bucket self-join → candidate pairs → exact-Jaccard filter ≥ 0.5.
    * Lexicographic min over md5 hex == a valid random permutation min. */
  /** Per-doc 16-component minhash vector (WIDE) + shingle count — the
    * one shingle-scale aggregate both the band signatures and q175's
    * estimates derive from.
    *
    * Round 15, second pass: the composed form (graft_md5_keyed → 16
    * hex strings per shingle row → 16 parallel var-length string-min
    * buffers through the hash agg) is replaced by the graft_minhash_hex
    * bounded aggregate — the exact move that took the SOURCE-scale
    * signature build 180 → 17 s in round 13, now applied to the
    * doc-scale build: one reused digest per (shingle, slot) folded
    * into a fixed 16×16-byte raw buffer, hex emitted once per DOC
    * (MinHashHexSpec pins slot h == min(element_at(graft_md5_keyed))).
    * Doc-scale groups need the object-agg fallback threshold raised
    * (the q157 rule) — [[minhashWide]] scopes it around the build. */
  private def wideMinhashOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n"),
      expr(s"graft_minhash_hex(s, $NumHashes)").as("mhs"))
      .select(col("doc_id") +: col("n") +: (0 until NumHashes).map(h =>
        element_at(col("mhs"), h + 1).as(s"mh$h")): _*)

  /** MinHash band signatures (doc_id, n, band, bh) of a wide minhash
    * table: n is the doc's shingle-set size, bh the md5 of the band's
    * "hh:minhash" pairs joined in h order — byte-identical to the
    * oracle's string_agg(... ORDER BY h). */
  private def bandsFrom(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until NumHashes / RowsPerBand).map { b =>
      val items = (0 until RowsPerBand).map { r =>
        val h = b * RowsPerBand + r
        concat_ws(":", lit(f"$h%02d"), col(s"mh$h"))
      }
      struct(lit(b).as("band"), md5(concat_ws(",", items: _*)).as("bh"))
    }
    mh
      .select(col("doc_id"), col("n"), explode(array(bandStructs: _*)).as("p"))
      .select(col("doc_id"), col("n"), col("p.band").as("band"), col("p.bh").as("bh"))
  }

  /** The wide minhash table as a STANDING ARTIFACT: at corpus scale
    * the shingle-scale min-aggregate runs ONCE and both consumers
    * (the lsh_bands builder and q175's calibration) read doc-scale
    * rows. The prior q175 re-derived its long-format minhashes by
    * exploding every (shingle × 16) row per run — 110 s of the 100×
    * warm sweep for what is a doc-scale posexplode off this frame. */
  private def minhashWide(s: SparkSession, dir: String): DataFrame =
    // the artifact build is EAGER inside Artifacts.frame, so the
    // scoped threshold covers exactly the doc-group object aggregate
    // (session-wide it would weaken every other object agg's
    // memory-safety fallback — the q157 QuerySpec.confs rationale)
    QuerySpec.scoped(s,
      Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> (1 << 20).toString)) {
      Artifacts.frame(s, dir, "minhash_wide")(wideMinhashOf(shingles(s, dir)))
    }

  /** The band-collision pair kernel stays the plain (band, bh)
    * equi-self-join — an ATTEMPTED round-15 replacement is on record:
    * a two-phase skew split (one window pass sizing every bucket;
    * buckets ≤ 256 docs collapsing to sorted lists emitting pairs via
    * a linear HOF explode, oversized buckets through a salted 8-way
    * join) was implemented, oracle-verified, and MEASURED SLOWER —
    * sf0.1 isolated same-window q25 0.57→0.61 / q103 0.47→0.74 /
    * q106 0.75→0.93 s; 100× REPS=2 q106 5.4→8.3/8.4 s across two
    * runs. Spark re-executes every reference of the sized frame, so
    * the split's three branches replayed the window (exchange + sort
    * of the 8N-row signature frame) three times against the old
    * join's two sortless exchanges; no replica-scale bucket is hot
    * enough to pay that back. At production scale the hot-bucket
    * straggler this split aimed at (exact-dup clusters → M²/2 pairs
    * in one task) is AQE skew-join's job (enabled by default; it
    * splits the oversized partition and replicates the matching
    * side), which costs nothing when no skew exists. */
  private def candidatesOf(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band").as("band2"), col("bh").as("bh2")),
        col("band") === col("band2") && col("bh") === col("bh2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** The MinHash band signatures as a STANDING ARTIFACT — the LSH
    * index itself: (doc_id, n, band, bh) serves q25 and both harness
    * queries (q103/q106); materialization also removes the old
    * persist-and-count race guard (the artifact IS the
    * materialization, so concurrent scan stages can never race a cold
    * cache into re-running the 16-wide min-md5 aggregate). */
  private def bandSigs(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "lsh_bands")(bandsFrom(minhashWide(s, dir)))

  private def q25(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val bands = bandSigs(s, dir)
    val cand = candidatesOf(bands)
    val sizes = bands.select(col("doc_id"), col("n")).distinct()
    // candidates after LSH are pair-scale and sizes are one row per
    // doc — both GROW WITH THE CORPUS, so no unconditional broadcast
    // hints here: AQE runtime-broadcasts them while they fit (all
    // bench scales) and falls back to shuffle joins at corpus scale,
    // where an N-row broadcast would be a driver OOM (100× sweep
    // finding).
    val inter = sh.select(col("doc_id").as("doc_a"), col("s"))
      .join(cand, Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("icnt"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        Det.rate(col("icnt").cast("double") / (col("na") + col("nb") - col("icnt"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared band-signature CTE chain (hx → mh → bands) over a `sh`
    * CTE — the SQL twin of [[bandSigs]], used by q25/q103/q106 so the
    * three oracles cannot drift. */
  private val bandCtesSql =
    s"""hx AS (
       |  SELECT doc_id, h, md5(CAST(h AS VARCHAR) || ':' || s) AS hv
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS h)
       |),
       |mh AS (SELECT doc_id, h, min(hv) AS mh FROM hx GROUP BY doc_id, h),
       |bands AS (
       |  SELECT doc_id, h // $RowsPerBand AS band,
       |         md5(string_agg(lpad(CAST(h AS VARCHAR), 2, '0') || ':' || mh, ',' ORDER BY h)) AS bh
       |  FROM mh GROUP BY doc_id, h // $RowsPerBand
       |)""".stripMargin

  private val q25Sql =
    s"""WITH sh AS ($shinglesSql),
       |$bandCtesSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS icnt
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
       |  GROUP BY c.doc_a, c.doc_b
       |)
       |SELECT doc_a, doc_b,
       |  floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM inter
       |JOIN sizes za ON za.doc_id = doc_a
       |JOIN sizes zb ON zb.doc_id = doc_b
       |WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Exact n-gram Jaccard over a grouped inverted index, with
    * stop-shingle filtering (df ≤ 25). Jaccard is computed over the
    * filtered shingle sets (self-consistent; common shingles carry no
    * dedup signal).
    *
    * Shape: ONE shuffle by shingle serves the whole index build — the
    * document frequency is a window count over that partitioning, the
    * df ≤ 25 filter runs BEFORE the posting-list collect (so no
    * unbounded list is ever aggregated; the window sort spills, a
    * collect_list buffer would not), and the following groupBy(s)
    * reuses the window's hash partitioning with no second exchange.
    * Candidate pairs then EXPLODE from each ≤25-element sorted list
    * (≤300 struct pairs) instead of the rs ⋈ rs self-join, which
    * shuffled the posting table twice and sorted both sides. Shared
    * with q54's component clustering. */
  /** Shared inverted-index pair kernel: (doc_a, doc_b, icnt, na, nb)
    * for every doc pair sharing ≥ 1 rare shingle — the overlap triple
    * that Jaccard (q26/q54), containment (q71), and any other set
    * similarity are arithmetic over. */
  /** Rare-shingle posting-list index: (s, ds = sorted doc ids). This is
    * the kernel's storable intermediate — a production pipeline writes
    * it to parquet between runs (the standing inverted index q84's
    * incremental dedup reads); PostingIndexSpec proves a parquet
    * round-trip of this frame reproduces the pair set byte-for-byte. */
  private[operators] def postingIndex(s: SparkSession, dir: String): DataFrame =
    postingIndexFrom(shingles(s, dir))

  /** Same, over an existing (doc_id, s) shingle frame — lets q103 share
    * one shingle pass between the truth index and the band signatures. */
  private[operators] def postingIndexFrom(sh: DataFrame): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    sh
      .withColumn("df", count(lit(1)).over(byShingle))
      .filter(col("df") <= 25)
      .groupBy(col("s")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
  }

  /** Pair kernel over a posting-list index frame (fresh or reloaded). */
  private[operators] def pairStatsFrom(index: DataFrame): DataFrame = {
    // persisted for its two consumers (pair-gen scan, sizes build);
    // the sizes build materializes first and populates the cache, so
    // no eager count is needed (unlike the self-join races in
    // q25/q63 — both consumers there are concurrent scan stages).
    // sizes is one row per doc (corpus-scale): joins stay unhinted so
    // AQE broadcasts while small and shuffles at scale
    val grouped = index.persist()
    val sizes = grouped.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = grouped
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("icnt"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
  }

  private[operators] def pairStats(s: SparkSession, dir: String): DataFrame =
    pairStatsFrom(postingIndex(s, dir))

  /** Jaccard scoring over a pairStats frame (PostingIndexSpec feeds it
    * a reloaded index). */
  private[operators] def jaccardFrom(stats: DataFrame): DataFrame =
    stats
      .withColumn("jaccard",
        Det.rate(col("icnt").cast("double") / (col("na") + col("nb") - col("icnt"))))
      .filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** The near-dup edge set as a STANDING ARTIFACT ([[Artifacts]]):
    * (doc_a, doc_b, jaccard) is corpus state consumed by ten+
    * registered queries (q26/q54/q69/q70/q80/q97/q109/q128/q131/q142/
    * q150/q152/q153) — built and materialized once per dataset, read
    * thereafter. The builder below is the standalone derivation the
    * oracle mirrors; ArtifactsSpec pins artifact == fresh build. */
  private[operators] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "neardup_pairs")(jaccardFrom(pairStats(s, dir)))

  private def q26(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val q26Sql =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM inter
       |JOIN sizes za ON za.doc_id = doc_a
       |JOIN sizes zb ON zb.doc_id = doc_b
       |WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q168
  /** Dedup-threshold calibration curve — the knob-tuning table read
    * BEFORE committing a Jaccard cutoff to q54's clustering: for each
    * threshold rung 0.30-0.90, how many candidate pairs qualify, how
    * many distinct docs get flagged, and what share of the corpus'
    * tokens sits in flagged docs. The j_ppm per pair is the
    * artifact's own rounded jaccard (⌊j·10⁶ + 0.5⌋), so rung 300000
    * counts exactly the standing near-dup edge set and every rung
    * uses the identical rounding rule in both engines. Candidacy is
    * inherited from the posting-list kernel (pairs must share a rare
    * shingle) — pairs below that bar have j ≈ 0 and belong to no
    * rung.
    *
    * Scale: the pair frame is the standing [[jaccardPairs]] artifact
    * (bounded by LSH-style candidacy, built once per dataset); the
    * rung join is a ×7 blowup of PAIRS (not corpus) into map-side-
    * combined aggregates, and the flagged-doc token join shuffles
    * only flagged doc_ids against the per-doc token counts. */
  private val DedupRungs = Seq(300000L, 400000L, 500000L,
    600000L, 700000L, 800000L, 900000L)

  private def q168(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pj = jaccardPairs(s, dir)
      .withColumn("j_ppm",
        expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)"))
    val rungs = DedupRungs.toDF("thr")
    val hits = pj.join(rungs, col("j_ppm") >= col("thr"))
    val perRung = hits.groupBy(col("thr")).agg(count(lit(1)).as("n_pairs"))
    val toks = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("ntok"))
    val tot = toks.agg(sum(col("ntok")).as("total_tokens"))
    val flagged = hits
      .select(col("thr"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .join(toks, Seq("doc_id"))
      .groupBy(col("thr"))
      .agg(count(lit(1)).as("n_docs_flagged"), sum(col("ntok")).as("flagged_tokens"))
    rungs.join(perRung, Seq("thr"), "left").join(flagged, Seq("thr"), "left")
      .crossJoin(tot)
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("n_docs_flagged", coalesce(col("n_docs_flagged"), lit(0L)))
      .withColumn("flagged_tokens", coalesce(col("flagged_tokens"), lit(0L)))
      .select(col("thr").as("threshold_ppm"), col("n_pairs"),
        col("n_docs_flagged"), col("flagged_tokens"),
        expr("(flagged_tokens * 1000000) DIV total_tokens").as("flagged_token_ppm"))
      .orderBy(col("threshold_ppm"))
  }

  private val q168Sql =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    CAST(floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5)
       |         AS BIGINT) AS j_ppm
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6
       |        >= 0.3
       |),
       |rungs AS (
       |  SELECT CAST(unnest([${DedupRungs.mkString(", ")}]) AS BIGINT) AS thr
       |),
       |hits AS MATERIALIZED (
       |  SELECT r.thr, j.doc_a, j.doc_b
       |  FROM jac j JOIN rungs r ON j.j_ppm >= r.thr
       |),
       |pr AS (SELECT thr, CAST(count(*) AS BIGINT) AS n_pairs FROM hits GROUP BY thr),
       |toks AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |              AS BIGINT) AS ntok
       |  FROM documents
       |),
       |tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS total_tokens FROM toks),
       |fl AS (
       |  SELECT thr, doc_a AS doc_id FROM hits
       |  UNION
       |  SELECT thr, doc_b FROM hits
       |),
       |fa AS (
       |  SELECT f.thr, CAST(count(*) AS BIGINT) AS n_docs_flagged,
       |         CAST(sum(t.ntok) AS BIGINT) AS flagged_tokens
       |  FROM fl f JOIN toks t USING (doc_id) GROUP BY f.thr
       |)
       |SELECT r.thr AS threshold_ppm,
       |       COALESCE(pr.n_pairs, 0) AS n_pairs,
       |       COALESCE(fa.n_docs_flagged, 0) AS n_docs_flagged,
       |       COALESCE(fa.flagged_tokens, 0) AS flagged_tokens,
       |       (COALESCE(fa.flagged_tokens, 0) * 1000000) // tot.total_tokens
       |         AS flagged_token_ppm
       |FROM rungs r
       |LEFT JOIN pr ON pr.thr = r.thr
       |LEFT JOIN fa ON fa.thr = r.thr
       |CROSS JOIN tot
       |ORDER BY threshold_ppm""".stripMargin

  // --------------------------------------------------------------- q175
  /** MinHash estimator calibration — is K = 16 hashes ENOUGH? For
    * every standing near-dup pair, compare the MinHash Jaccard
    * estimate (matching components / K — E[ĵ] = j, sd √(j(1−j)/K))
    * against the exact shingle Jaccard, rolled up per true-Jaccard
    * decile: pairs, mean true and estimated ppm, mean |error|, and
    * the signed mean bias (portable floor — it can be negative). The
    * operating-characteristic table read before trusting q25/q29's
    * signatures at a new threshold, companion to q103/q106 which
    * grade the BANDING, not the estimator.
    *
    * Scale: minhashes come from the same one-pass keyed-digest kernel
    * as the band artifact; the estimate join is PAIR-scale ×K rows
    * (the pair set is the standing artifact, bounded by candidacy),
    * map-side combined per pair then per decile. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    // WIDE-table estimate (round 15, second pass — guide §2.3/§2.4):
    // the prior form posexploded the standing wide table to doc×K long
    // rows, shuffled that table TWICE through (doc, h) joins, and
    // re-aggregated matches per pair. The K-component match count is a
    // per-ROW expression over the wide columns: join each side's
    // 16-column row once, sum K equality IFs — no explode, no long
    // shuffles, no per-pair aggregate (the decile rollup below is the
    // only aggregation left). matches is identical: the (h == h2) join
    // aligned component h with component h exactly once — as does the
    // positional sum.
    val w = minhashWide(s, dir)
    val ma = w.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(h => col(s"mh$h").as(s"ma$h")): _*)
    val mb = w.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(h => col(s"mh$h").as(s"mb$h")): _*)
    val pairs = jaccardPairs(s, dir)
      .withColumn("true_ppm",
        expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)"))
    val matchExpr = (0 until NumHashes)
      .map(h => s"IF(ma$h = mb$h, 1L, 0L)").mkString(" + ")
    val est = pairs
      .join(ma, Seq("doc_a"))
      .join(mb, Seq("doc_b"))
      .withColumn("matches", expr(s"CAST($matchExpr AS BIGINT)"))
      .withColumn("est_ppm", expr(s"(matches * 1000000) DIV $NumHashes"))
    est
      .withColumn("bucket", expr("least(true_ppm DIV 100000, 9L)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("true_ppm")).as("st"), sum(col("est_ppm")).as("se"),
        sum(abs(col("est_ppm") - col("true_ppm"))).as("sae"))
      .select(col("bucket").as("true_j_decile"), col("n_pairs"),
        expr("st DIV n_pairs").as("mean_true_ppm"),
        expr("se DIV n_pairs").as("mean_est_ppm"),
        expr("sae DIV n_pairs").as("mean_abs_err_ppm"),
        expr("""CAST((se - st - pmod(se - st, n_pairs)) DIV n_pairs AS BIGINT)""")
          .as("mean_bias_ppm"))
      .orderBy(col("true_j_decile"))
  }

  private val q175Sql =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |jac AS MATERIALIZED (
       |  SELECT doc_a, doc_b,
       |    CAST(floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5)
       |         AS BIGINT) AS true_ppm
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6
       |        >= 0.3
       |),
       |hx AS (
       |  SELECT doc_id, h, md5(CAST(h AS VARCHAR) || ':' || s) AS hv
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS h)
       |),
       |mh AS MATERIALIZED (SELECT doc_id, h, min(hv) AS mh FROM hx GROUP BY doc_id, h),
       |est AS (
       |  SELECT j.doc_a, j.doc_b, j.true_ppm,
       |         (CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
       |          * 1000000) // $NumHashes AS est_ppm
       |  FROM jac j
       |  JOIN mh a ON a.doc_id = j.doc_a
       |  JOIN mh b ON b.doc_id = j.doc_b AND b.h = a.h
       |  GROUP BY j.doc_a, j.doc_b, j.true_ppm
       |)
       |SELECT least(true_ppm // 100000, 9) AS true_j_decile,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(true_ppm) AS BIGINT) // count(*) AS mean_true_ppm,
       |       CAST(sum(est_ppm) AS BIGINT) // count(*) AS mean_est_ppm,
       |       CAST(sum(abs(est_ppm - true_ppm)) AS BIGINT) // count(*)
       |         AS mean_abs_err_ppm,
       |       CAST((sum(est_ppm) - sum(true_ppm)
       |             - ((((sum(est_ppm) - sum(true_ppm)) % count(*)) + count(*))
       |                % count(*)))
       |            // count(*) AS BIGINT) AS mean_bias_ppm
       |FROM est GROUP BY 1 ORDER BY true_j_decile""".stripMargin

  // ---------------------------------------------------------------- q27
  /** 16-bit SimHash per document from token md5 nibbles: bit i set iff
    * Σ_tokens (nibble_i odd ? +1 : -1) > 0. Token multiplicity counts
    * (SimHash weights = term frequency). */
  private val oddNibbles = Seq("1", "3", "5", "7", "9", "b", "d", "f")

  private def q27(s: SparkSession, dir: String): DataFrame =
    // NATIVE SIMHASH (round 15, second pass — guide §4): the composed
    // form ran, per TOKEN, md5-to-hex plus 16 substring-isin string
    // predicates feeding 16 sum columns — ~16 allocations and ~128
    // string compares per token of pure expression overhead around one
    // cheap digest. graft_simhash folds the digest's nibble low bits
    // straight into ±1 int counters (SimHashAggSpec pins the forms
    // equal; the oracle SQL below is the unchanged composed twin).
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(expr("graft_simhash(tok, 16)").as("simhash"))
      .orderBy(col("doc_id"))

  private val q27Sql = {
    val inList = oddNibbles.map(n => s"'$n'").mkString(",")
    val bitSums = (0 until 16)
      .map(i => s"sum(CASE WHEN substr(md5(tok), ${i + 1}, 1) IN ($inList) THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n |  ")
    val value = (0 until 16)
      .map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |  FROM tk GROUP BY doc_id)
       |SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM bits ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q63
  /** SimHash near-dup detection — the step q27 stops short of: a
    * 60-BIT token-level simhash (bits off the 64 hex nibbles of
    * md5(tok) ‖ md5('x' ‖ tok)), banded into 4 × 15-bit bands for
    * candidate generation (equi-join on (band, value), never
    * all-pairs), then an exact hamming verify via bit_count(xor).
    * With 4 bands and a hamming threshold of 3, banding is LOSSLESS
    * by pigeonhole: ≤3 differing bits cannot touch all 4 bands, so at
    * least one band matches exactly — recall-free candidate pruning,
    * unlike the probabilistic MinHash bands of q25. (The pigeonhole
    * argument is band-COUNT-only, so band WIDTH is a free scale knob.)
    *
    * Scale: what shuffles is (doc_id, band, value) triples — 4 rows
    * of ~20 bytes per doc; the verify join touches only banded
    * candidates and compares two longs. Band width sets the random
    * collision floor: the earlier 8-bit bands (256 buckets) went
    * QUADRATIC once the corpus passed ~10⁵ docs — measured on the
    * 100× replica: q129 grew 14.6× across the 10×→100× decade, the
    * N²/2¹⁰ random-collision term dominating. 15-bit bands (32768
    * buckets) push that term to N²/2¹⁷: sub-second at 10⁵, and the
    * next widening (more signature bits) is the documented move past
    * ~10⁷ docs. */
  /** Per-doc SimHash-60 signatures as a STANDING ARTIFACT — one row
    * per doc, shared by q63 and q129 (the signature table a production
    * simhash dedup maintains beside the corpus). */
  private def simhash60(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "simhash60_sigs")(simhash60Build(s, dir))

  private val SimBits = 60
  private val SimBandBits = 15

  private def simhash60Build(s: SparkSession, dir: String): DataFrame =
    // native kernel; nibbles 32..59 read md5('x' ‖ tok) — the q27
    // rationale at 60 bits (was ~60 allocations + ~480 string compares
    // per token; the artifact build's dominant cost at the 100×
    // replica). SimHashAggSpec pins the 60-bit form against the
    // composed md5(tok) ‖ md5('x'‖tok) chain.
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(expr(s"graft_simhash(tok, $SimBits)").as("sig"))

  /** SimHash-60 near-dup pair kernel shared by q63 and q129: banded
    * candidate generation (4×15 bands, lossless for hamming ≤ 3), then
    * the exact hamming filter. Caller owns the sig persist/settle. */
  private def simhashHam(sig: DataFrame): DataFrame = {
    val banded = sig.select(col("doc_id"), col("sig"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), SimBandBits * b)
          .bitwiseAND(lit((1L << SimBandBits) - 1)).as("bh"))): _*)).as("p"))
      .select(col("doc_id"), col("sig"), col("p.band").as("band"), col("p.bh").as("bh"))
    val cand = banded.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("band").as("band2"), col("bh").as("bh2")),
        col("band") === col("band2") && col("bh") === col("bh2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private def q63(s: SparkSession, dir: String): DataFrame =
    // the artifact is materialized, so the band self-join's two scans
    // can no longer race a cold cache
    simhashHam(simhash60(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  /** SimHash-60 kernel CTEs (tk → bits → sig → banded → cand → ham),
    * shared by q63Sql and q129Sql. */
  private val simhash60CtesSql: String = {
    val inList = oddNibbles.map(n => s"'$n'").mkString(",")
    val bitSums = (0 until SimBits)
      .map(i => s"sum(CASE WHEN substr(hx, ${i + 1}, 1) IN ($inList) THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n |    ")
    val value = (0 until SimBits)
      .map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""tk AS MATERIALIZED (
       |  -- digest computed ONCE per token: without the materialization
       |  -- DuckDB inlines the double md5 into all 60 bit CASEs
       |  -- (measured 3.1 s -> 14.8 s on q129's oracle)
       |  SELECT doc_id, md5(tok) || md5('x' || tok) AS hx
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
       |bits AS (SELECT doc_id,
       |    $bitSums
       |  FROM tk GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($value AS BIGINT) AS sig FROM bits),
       |banded AS (
       |  SELECT doc_id, sig, b.band, (sig >> ($SimBandBits * b.band)) & ${(1L << SimBandBits) - 1} AS bh
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |),
       |ham AS (
       |  SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |  FROM cand
       |  WHERE bit_count(xor(sig_a, sig_b)) <= 3
       |)""".stripMargin
  }

  private val q63Sql: String =
    s"""WITH $simhash60CtesSql
       |SELECT doc_a, doc_b, hamming FROM ham ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Shingle CONTAINMENT (Broder 1997): |A∩B| / |A| — the asymmetric
    * companion to Jaccard that catches subset duplication (a short doc
    * quoted wholesale inside a longer one scores containment ≈ 1 while
    * Jaccard stays low because the union is dominated by the long doc).
    * Reuses q26's inverted-index pair kernel for |A∩B|, then scores
    * BOTH directions of every pair and keeps max-side containment
    * ≥ 0.8 with Jaccard < 0.5 — i.e. precisely the near-dups the
    * symmetric measures (q25/q26) are blind to.
    *
    * Scale shape is q26's: one shuffle by shingle, df-capped posting
    * lists, pair counts from bounded explodes; the containment score is
    * arithmetic on the same (icnt, na, nb) triple. */
  private[operators] def containmentFrom(stats: DataFrame): DataFrame =
    stats
      // a doc with only a couple of rare shingles is "contained" in
      // anything sharing them — require a minimally meaningful set
      .filter(least(col("na"), col("nb")) >= 5)
      .withColumn("containment",
        Det.rate(col("icnt").cast("double") / least(col("na"), col("nb"))))
      .withColumn("jaccard",
        Det.rate(col("icnt").cast("double") / (col("na") + col("nb") - col("icnt"))))
      .filter(col("containment") >= 0.8 && col("jaccard") < 0.5)
      .withColumn("contained_doc",
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("contained_doc"), col("containment"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  private def q71(s: SparkSession, dir: String): DataFrame =
    containmentFrom(pairStats(s, dir))

  private val q71Sql =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |scored AS (
       |  SELECT doc_a, doc_b, za.n AS na, zb.n AS nb,
       |    floor((CAST(icnt AS DOUBLE) / least(za.n, zb.n)) * 1e6 + 0.5) / 1e6 AS containment,
       |    floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |)
       |SELECT doc_a, doc_b,
       |       CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc,
       |       containment, jaccard
       |FROM scored
       |WHERE least(na, nb) >= 5 AND containment >= 0.8 AND jaccard < 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Incremental near-dup: dedup a NEW batch against an EXISTING corpus
    * (the daily-ingest shape; doc_id % 10 == 0 plays the batch). The
    * pair kernel is ASYMMETRIC: posting lists are split into corpus and
    * batch members, and candidates are generated ONLY for pairs that
    * involve a batch doc (batch×corpus, plus batch×earlier-batch for
    * within-batch dups) — never corpus×corpus, which is the difference
    * between O(|batch|·postings) and re-running the full quadratic over
    * the whole corpus every day. Emits each duplicate batch doc with
    * its best match (highest Jaccard, lowest id) and whether the match
    * came from the corpus or the same batch.
    *
    * Scale (100 TB): the corpus side's rare-shingle posting lists are
    * exactly the persisted inverted INDEX a production pipeline keeps
    * between runs (the q42-IVF pattern for text); only the new batch's
    * shingles are computed and shuffled per ingest, and the per-shingle
    * candidate work is bounded by the df cap the kernel already
    * enforces. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val grouped = postingIndex(s, dir).persist()
    // scale-gated waist: `sizes` feeds BOTH scored joins — each
    // reference re-ran the explode+agg over the posting index
    // (round-13 sortaudit); bounded by |docs|. Gated because at sf0.1
    // the eager job cost more than the re-agg it saved (r13 verdict:
    // 0.41 → 0.69 s).
    val sizes = Det.waist(grouped.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n")), dir)
    // batch-involving pairs only: (batch b, corpus c) ∪ (batch b, batch b' < b)
    val inter = grouped
      .select(explode(expr(
        """flatten(transform(filter(ds, d -> d % 10 = 0), b ->
          |  transform(filter(ds, m -> m % 10 <> 0 OR m < b),
          |            m -> struct(b AS batch_doc, m AS match_doc))))""".stripMargin)).as("p"))
      .select(col("p.batch_doc"), col("p.match_doc"))
      .groupBy(col("batch_doc"), col("match_doc")).agg(count(lit(1)).as("icnt"))
    val scored = inter
      .join(sizes.select(col("doc_id").as("batch_doc"), col("n").as("nb")),
        Seq("batch_doc"))
      .join(sizes.select(col("doc_id").as("match_doc"), col("n").as("nm")),
        Seq("match_doc"))
      .withColumn("jaccard",
        Det.rate(col("icnt").cast("double") / (col("nb") + col("nm") - col("icnt"))))
      .filter(col("jaccard") >= 0.3)
    scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("batch_doc"))
          .orderBy(col("jaccard").desc, col("match_doc"))))
      .filter(col("rn") === 1)
      .select(col("batch_doc"), col("match_doc"), col("jaccard"),
        when(col("match_doc") % 10 === 0, "batch").otherwise("corpus").as("match_src"))
      .orderBy(col("batch_doc"))
  }

  private val q84Sql =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT b.doc_id AS batch_doc, m.doc_id AS match_doc, count(*) AS icnt
       |  FROM rs b JOIN rs m ON b.s = m.s
       |  WHERE b.doc_id % 10 = 0
       |    AND (m.doc_id % 10 <> 0 OR m.doc_id < b.doc_id)
       |  GROUP BY 1, 2
       |),
       |scored AS (
       |  SELECT batch_doc, match_doc,
       |         floor((CAST(icnt AS DOUBLE) / (zb.n + zm.n - icnt)) * 1e6 + 0.5) / 1e6
       |           AS jaccard
       |  FROM inter
       |  JOIN sizes zb ON zb.doc_id = batch_doc
       |  JOIN sizes zm ON zm.doc_id = match_doc
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY batch_doc
       |                               ORDER BY jaccard DESC, match_doc) AS rn
       |  FROM scored WHERE jaccard >= 0.3
       |)
       |SELECT batch_doc, match_doc, jaccard,
       |       CASE WHEN match_doc % 10 = 0 THEN 'batch' ELSE 'corpus' END AS match_src
       |FROM ranked WHERE rn = 1 ORDER BY batch_doc""".stripMargin

  // --------------------------------------------------------------- q103
  /** LSH recall harness — the dedup twin of q101's ANN recall
    * evaluation: per exact-Jaccard decile, what fraction of the true
    * near-dup pairs does the MinHash band-bucket candidate set reach?
    * Both sides are the DEPLOYED kernels, unmodified: truth is the q26
    * inverted-index exact Jaccard over the rare-shingle (df ≤ 25)
    * universe (every pair ≥ 0.3), candidates are q25's [[bandSigs]] +
    * [[candidatesOf]] over the FULL shingle set — exactly the pairs
    * production LSH would surface. The decile axis is rare-set
    * Jaccard while the signatures minhash the full set, so the curve
    * sits near (not exactly on) the theoretical 1-(1-J⁴)⁴, reaching
    * 1.0 for exact duplicates (identical sets collide in every band).
    *
    * Scale: everything downstream of the shingle pass is
    * posting-list / signature sized — truth pair-gen explodes ≤25-doc
    * lists, the band join shuffles 16-byte signatures, and the decile
    * rollup is ≤ 8 rows. One corpus-scale shingle pass shared by both
    * sides, identical to running q25 + q26 alone. Cache hygiene is the
    * session convention (Verify/Bench clearCache between queries —
    * see IvfQueries). */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    // truth = the near-dup pairs standing artifact (identical kernel);
    // candidates = the band-signature standing artifact
    val truth = jaccardPairs(s, dir)
    val cand = candidatesOf(bandSigs(s, dir)).withColumn("hit", lit(1L))
    truth
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("decile", floor(col("jaccard") * 10).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        Det.rate(col("n_hit").cast("double") / col("n_truth")))
      .orderBy(col("decile"))
  }

  private val q103Sql =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |truth AS (
       |  SELECT doc_a, doc_b,
       |    floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6
       |      AS jaccard
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |),
       |$bandCtesSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |)
       |SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS decile,
       |       CAST(count(*) AS BIGINT) AS n_truth,
       |       CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       floor(CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1e6 + 0.5) / 1e6 AS recall
       |FROM truth t LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
       |GROUP BY decile ORDER BY decile""".stripMargin

  // --------------------------------------------------------------- q106
  /** LSH precision harness — the other axis of q103's recall curve:
    * per band-agreement count (how many of the 8 band signatures
    * collide), what fraction of the candidate pairs are TRUE near-dups
    * at q25's J ≥ 0.5 threshold? Production tunes (bands, rows) on
    * exactly this pair of tables — precision rises with the agreement
    * count while recall falls, and the two harnesses bracket the
    * operating point. Candidates and the exact-Jaccard verification
    * are q25's deployed kernels unmodified; a candidate pair with no
    * shared shingle (reachable only through hash collisions) scores
    * jaccard 0 via the LEFT join rather than vanishing.
    *
    * Scale: the band self-join shuffles 16-byte signatures; the
    * post-LSH candidate set is tiny and BROADCASTS into the shingle
    * intersection joins (q25's shape); the rollup is ≤ 8 rows. Cache
    * hygiene is the session convention (Verify/Bench clearCache
    * between queries). */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val bands = bandSigs(s, dir)
    // band agreement count per candidate pair (1..NumHashes/RowsPerBand)
    // (round-13: a candNb localCheckpoint was A/B-measured SLOWER at
    // sf0.1 — 1.12 -> 1.38 s; the checkpointed leaf loses its size
    // estimate and the downstream broadcasts degrade — and reverted;
    // round-15: a two-phase skew split of this self-join was measured
    // slower at BOTH scales and reverted — see candidatesOf)
    val candNb = bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band").as("band2"), col("bh").as("bh2")),
        col("band") === col("band2") && col("bh") === col("bh2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("nb"))
    val sizes = bands.select(col("doc_id"), col("n")).distinct()
    val inter = sh.select(col("doc_id").as("doc_a"), col("s"))
      .join(candNb.select(col("doc_a"), col("doc_b")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("icnt"))
    candNb
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("icnt"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb2")), Seq("doc_b"))
      .withColumn("jaccard",
        Det.rate(col("icnt").cast("double") / (col("na") + col("nb2") - col("icnt"))))
      .groupBy(col("nb"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_true"))
      .withColumn("prec", Det.rate(col("n_true").cast("double") / col("n_cand")))
      .orderBy(col("nb"))
  }

  private val q106Sql =
    s"""WITH sh AS ($shinglesSql),
       |$bandCtesSql,
       |candnb AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS nb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS icnt
       |  FROM candnb c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
       |  GROUP BY 1, 2
       |),
       |j AS (
       |  SELECT c.nb,
       |         floor((CAST(COALESCE(i.icnt, 0) AS DOUBLE)
       |                / (za.n + zb.n - COALESCE(i.icnt, 0))) * 1e6 + 0.5) / 1e6
       |           AS jaccard
       |  FROM candnb c
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sizes za ON za.doc_id = c.doc_a
       |  JOIN sizes zb ON zb.doc_id = c.doc_b
       |)
       |SELECT nb, CAST(count(*) AS BIGINT) AS n_cand,
       |       CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_true,
       |       floor(CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1e6 + 0.5) / 1e6 AS prec
       |FROM j GROUP BY nb ORDER BY nb""".stripMargin

  // --------------------------------------------------------------- q129
  /** SimHash operating curve — the method-selection read q103/q106
    * give the MinHash side, completed for the other hash family: for
    * every hamming radius r ∈ 0..3 (the lossless band range), the
    * precision/recall/F1 of "dedup at radius r" against the exact
    * rare-shingle Jaccard ≥ 0.3 truth set. Together the three
    * harnesses answer WHICH near-dup detector to run at 100 TB and at
    * what knob setting, measured rather than folklore.
    *
    * Exactness: tp/n_pred/n_truth are integer counts; F1 folds to
    * 2·tp/(n_pred + n_truth) so all three metrics are one division of
    * exact BIGINTs. A pair predicted at hamming h contributes to every
    * radius ≥ h via one sequence-explode — no per-radius rescan.
    *
    * Scale: the candidate side is q63's banded equi-join (never
    * all-pairs); the truth side is q26's df-capped posting index; the
    * label join runs on the two PAIR frames (dedup output scale, tiny
    * relative to corpus), and the curve is a ≤4-row aggregate. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val sig = simhash60(s, dir)
    val truth = jaccardPairs(s, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("is_dup", lit(1L))
      .persist()
    truth.count() // consumed by both the label join and the n_truth agg
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    simhashHam(sig)
      .join(truth, Seq("doc_a", "doc_b"), "left")
      .select(col("hamming"), coalesce(col("is_dup"), lit(0L)).as("is_dup"))
      .select(explode(sequence(col("hamming"), lit(3L))).as("radius"), col("is_dup"))
      .groupBy(col("radius"))
      .agg(count(lit(1)).as("n_pred"), sum(col("is_dup")).as("tp"))
      .crossJoin(broadcast(nTruth))
      .withColumn("precision", Det.rate(col("tp").cast("double") / col("n_pred")))
      // recall undefined when the truth pair-set is empty (clean corpus
      // with SimHash candidates) — NULL, not ANSI DIVIDE_BY_ZERO
      .withColumn("recall",
        when(col("n_truth") === 0L, lit(null).cast("double"))
          .otherwise(Det.rate(col("tp").cast("double") / col("n_truth"))))
      .withColumn("f1",
        Det.rate(lit(2.0) * col("tp").cast("double") / (col("n_pred") + col("n_truth")).cast("double")))
      .select(col("radius"), col("n_pred"), col("tp"), col("n_truth"),
        col("precision"), col("recall"), col("f1"))
      .orderBy(col("radius"))
  }

  private val q129Sql =
    s"""WITH $simhash60CtesSql,
       |sh AS ($shinglesSql),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |truth AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |),
       |lab AS (
       |  SELECT h.hamming,
       |         CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |  FROM ham h LEFT JOIN truth t ON t.doc_a = h.doc_a AND t.doc_b = h.doc_b
       |),
       |ex AS (
       |  SELECT CAST(r.r AS BIGINT) AS radius, is_dup
       |  FROM lab CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r) r
       |  WHERE r.r >= hamming
       |),
       |ag AS (
       |  SELECT radius, CAST(count(*) AS BIGINT) AS n_pred,
       |         CAST(sum(is_dup) AS BIGINT) AS tp
       |  FROM ex GROUP BY radius
       |),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT radius, n_pred, tp, n_truth,
       |       floor(CAST(tp AS DOUBLE) / n_pred * 1e6 + 0.5) / 1e6 AS precision,
       |       CASE WHEN n_truth = 0 THEN NULL
       |            ELSE floor(CAST(tp AS DOUBLE) / n_truth * 1e6 + 0.5) / 1e6
       |       END AS recall,
       |       floor(2.0 * CAST(tp AS DOUBLE) / CAST(n_pred + n_truth AS DOUBLE) * 1e6 + 0.5)
       |         / 1e6 AS f1
       |FROM ag CROSS JOIN nt ORDER BY radius""".stripMargin

  // ---------------------------------------------------------------- q137
  /** Bloom-filter dedup admission with a built-in false-positive audit
    * — the third classic mergeable sketch beside q74's HLL (distinct
    * counts) and q136's CMS (frequencies). Production shape: the
    * standing corpus keeps an m-bit Bloom filter over its exact-dup
    * fingerprints (q24's md5); each ingest batch probes the filter and
    * only bloom-positive docs pay the exact fingerprint lookup — the
    * admission pre-filter in front of q60/q84's incremental merge.
    * Sketch: m = 4096 bits, k = 3 bit positions per fingerprint
    * (md5("j:fp") 48-bit prefix mod m, the engine's cross-checkable
    * hash idiom); a probe "hits" iff all 3 bits are set. No false
    * negatives EVER (every true dup's bits were set by its twin);
    * false positives at a rate the one-row report measures against
    * ground truth (m is sized small here so the audit has mass —
    * production sizes m = −n·ln p/(ln 2)²).
    *
    * Scale: zero corpus-scale shuffles — the bits frame is ≤ m = 4096
    * rows (distinct-bit agg map-side combines; the artifact merges
    * across shards/epochs by OR) and BROADCASTS to three per-position
    * membership joins on the probe side; ground truth broadcasts the
    * batch's distinct fingerprints INTO the one corpus scan (q124's
    * direction — the 100 TB side never shuffles), and the confusion
    * rollup is a map-side-combined scalar aggregate. */
  private val BloomM = 4096L
  private val BloomK = 3

  private def q137(s: SparkSession, dir: String): DataFrame = {
    def bit(j: Int, fp: Column): Column =
      conv(substring(md5(concat(lit(s"$j:"), fp)), 1, 12), 16, 10)
        .cast("bigint") % BloomM
    val fp = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        (col("doc_id") % 10 === 0).as("is_probe"))
    val bits = fp.filter(!col("is_probe"))
      .select(explode(array((0 until BloomK).map(j => bit(j, col("fp"))): _*)).as("bit"))
      .distinct()
    val probe = fp.filter(col("is_probe"))
      .select(Seq(col("doc_id"), col("fp")) ++
        (0 until BloomK).map(j => bit(j, col("fp")).as(s"b$j")): _*)
    val withHits = (0 until BloomK).foldLeft(probe) { (df, j) =>
      df.join(broadcast(bits.select(col("bit").as(s"b$j"), lit(1).as(s"set$j"))),
        Seq(s"b$j"), "left")
    }
    // ground truth: the batch's distinct fps broadcast into the corpus scan
    val trueDup = fp.filter(!col("is_probe")).select(col("fp"))
      .join(broadcast(probe.select(col("fp")).distinct()), Seq("fp"))
      .distinct().withColumn("is_dup", lit(1))
    withHits
      .withColumn("hit",
        (0 until BloomK).map(j => col(s"set$j").isNotNull).reduce(_ && _))
      .join(broadcast(trueDup), Seq("fp"), "left")
      .agg(
        count(lit(1)).as("n_probe"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_true_dup"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hit"),
        sum(when(col("hit") && col("is_dup").isNull, 1L).otherwise(0L)).as("n_false_pos"))
      .withColumn("fp_ppm", expr(
        "case when n_probe = n_true_dup then 0L " +
          "else n_false_pos * 1000000L DIV (n_probe - n_true_dup) end"))
  }

  private val q137Sql = {
    def bit(j: Int, fpExpr: String) =
      s"CAST('0x' || substr(md5('$j:' || $fpExpr), 1, 12) AS BIGINT) % $BloomM"
    s"""WITH fp AS (
       |  SELECT doc_id, md5(text) AS fp, doc_id % 10 = 0 AS is_probe
       |  FROM documents),
       |bits AS (
       |  SELECT DISTINCT bit FROM (
       |    ${(0 until BloomK).map(j =>
            s"SELECT ${bit(j, "fp")} AS bit FROM fp WHERE NOT is_probe")
            .mkString("\n    UNION ALL\n    ")})),
       |trueset AS (SELECT DISTINCT fp FROM fp WHERE NOT is_probe),
       |probe AS (
       |  SELECT doc_id, fp,
       |         ${(0 until BloomK).map(j =>
            s"(${bit(j, "fp")} IN (SELECT bit FROM bits))").mkString(" AND ")}
       |           AS hit,
       |         fp IN (SELECT fp FROM trueset) AS is_dup
       |  FROM fp WHERE is_probe)
       |SELECT count(*) AS n_probe,
       |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hit,
       |       CAST(sum(CASE WHEN hit AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_false_pos,
       |       CAST(CASE WHEN count(*) = sum(CASE WHEN is_dup THEN 1 ELSE 0 END) THEN 0
       |            ELSE CAST(sum(CASE WHEN hit AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |                 * 1000000
       |                 // (count(*) - CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT))
       |            END AS BIGINT) AS fp_ppm
       |FROM probe""".stripMargin
  }

  // --------------------------------------------------------------- q146
  /** Paragraph-level duplicate-document removal (MassiveText / Gopher
    * §A.1.2, Rae et al. 2021): a doc whose content is mostly
    * paragraphs that also occur in OTHER documents — anywhere in the
    * corpus, any source — is itself a duplicate-assembly and gets
    * removed, even when no single whole-doc twin exists (the case
    * q24's exact hash and q25's MinHash both miss: a doc stitched
    * from pieces of many donors). "Paragraphs" are q110's stride-W
    * non-overlapping W-token chunks ([[TextQueries.chunkHashesExpr]]
    * — the SAME kernel text, so the boilerplate profile and this
    * verdict can never disagree on segmentation); the verdict differs
    * from q110 on every axis that matters: corpus-wide (not
    * same-source), doc-level removal (not segment stripping), and a
    * duplicated chunk needs ≥ 2 distinct DOCS (within-doc repeats are
    * repetition — q56's axis — not duplication).
    *
    * A doc is removed when > [[ParaDupPpm]] ppm of its chunk
    * instances are cross-doc duplicated. MassiveText's knob is 30%
    * of duplicate LINES; the synthetic corpus's closed ~31-token
    * vocabulary makes chance W=3 chunk collisions far denser than
    * natural text, so the knob sits at 50% to target the same tail
    * (sf0.01: removes ~16%, with decile mass on both sides). Docs
    * shorter than W have no full chunk and are structurally exempt
    * (n_chunks = 0 — never assessed, never removed).
    *
    * Output per source: docs, assessed docs, removed docs + their
    * token volume, removal ppm of the source's token volume, and the
    * mean dup share among assessed docs.
    *
    * Scale: two digest-keyed shuffles — (doc, h) collapse, then the
    * per-h docs_with window — both on 16-byte hashes, never text
    * (q110's envelope); everything after the per-doc verdict is a
    * map-side-combined |S|-row rollup. The doc-axis join back to
    * token counts rides the standing doc_chunks artifact (shared
    * with q110 — one chunk-hash pass per dataset, not per query). */
  private[graft] val ParaDupPpm = 500000L

  private def q146(s: SparkSession, dir: String): DataFrame = {
    // the per-doc chunk-digest frame is the standing doc_chunks
    // artifact shared with q110 (byte-identical derivation);
    // Artifacts.pinned keeps the pre-artifact single-pass behavior in
    // the `spark.graft.artifacts=off` mode (four plan branches read `docs`:
    // dupH, nd, verdict, tot)
    Artifacts.pinned(s, TextQueries.docChunks(s, dir)) { docs =>
    // Round-14 shape (guide §2.3/§2.4): the old form pushed the FULL
    // per-(doc, chunk) stream through `count(*) OVER (PARTITION BY h)`
    // — a second corpus-scale exchange plus the WindowExec SORT of
    // every chunk instance, measured as the dominant stage at the
    // 100× replica. The window only existed to ask "is h in ≥ 2
    // distinct docs"; that is a (df ≥ 2) aggregate. Build the
    // duplicated-hash set once (array_distinct collapses within-doc
    // repeats BEFORE the exchange, so the shuffle carries ≤ one row
    // per (doc, distinct h) and combines map-side), then count each
    // doc's duplicated INSTANCES with a semi-join — hash join, no
    // sort, and n_chunks falls out of size(hs) with no aggregate at
    // all. Integer counts, identical verdicts, oracle unchanged.
    val dupH = docs
      .select(explode(array_distinct(col("hs"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("dw"))
      .filter(col("dw") >= 2)
      .select(col("h"))
    val nd = docs
      .select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
      .join(dupH, Seq("h"), "left_semi")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_dup"))
    val verdict = docs
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("hs")).cast("long").as("n_chunks"), col("n_toks"))
      .join(nd, Seq("source", "doc_id"), "left")
      .na.fill(0L, Seq("n_dup"))
      .withColumn("dup_ppm", expr("(n_dup * 1000000) DIV n_chunks"))
      .withColumn("removed", col("dup_ppm") > ParaDupPpm)
    val perSrc = verdict.groupBy(col("source"))
      .agg(count(lit(1)).as("n_assessed"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("removed"), col("n_toks")).otherwise(0L))
          .as("removed_tokens"),
        sum(col("dup_ppm")).as("sum_dup_ppm"))
    val tot = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
    // lazy |S|-row plan over artifact blocks — no persist to release
    tot.join(perSrc, Seq("source"))
      .withColumn("removed_ppm",
        expr("(removed_tokens * 1000000) DIV total_tokens"))
      .withColumn("mean_dup_ppm", expr("sum_dup_ppm DIV n_assessed"))
      .select(col("source"), col("n_docs"), col("n_assessed"),
        col("n_removed"), col("removed_tokens"), col("removed_ppm"),
        col("mean_dup_ppm"))
      .orderBy(col("source"))
    }
  }

  private val q146Sql = {
    val w = TextQueries.BoilerW
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         generate_subscripts(string_split(text, ' '), 1) AS ord,
       |         unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), doc_tok AS (
       |  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_toks
       |  FROM toks GROUP BY source, doc_id
       |), segs AS (
       |  SELECT doc_id, source, CAST(floor((ord - 1) / $w) AS BIGINT) AS seg,
       |         md5(string_agg(tok, ' ' ORDER BY ord)) AS h, count(*) AS cw
       |  FROM toks GROUP BY doc_id, source, seg
       |), pc AS (
       |  SELECT doc_id, source, h, CAST(count(*) AS BIGINT) AS occ
       |  FROM segs WHERE cw = $w GROUP BY 1, 2, 3
       |), dwf AS (
       |  SELECT *, count(*) OVER (PARTITION BY h) AS dw FROM pc
       |), pd AS (
       |  SELECT source, doc_id, CAST(sum(occ) AS BIGINT) AS n_chunks,
       |         CAST(sum(CASE WHEN dw >= 2 THEN occ ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM dwf GROUP BY 1, 2
       |), vd AS (
       |  SELECT pd.source, pd.doc_id,
       |         (n_dup * 1000000) // n_chunks AS dup_ppm,
       |         (n_dup * 1000000) // n_chunks > $ParaDupPpm AS removed,
       |         dt.n_toks
       |  FROM pd JOIN doc_tok dt USING (source, doc_id)
       |), per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_assessed,
       |         CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_removed,
       |         CAST(sum(CASE WHEN removed THEN n_toks ELSE 0 END) AS BIGINT)
       |           AS removed_tokens,
       |         CAST(sum(dup_ppm) AS BIGINT) AS sum_dup_ppm
       |  FROM vd GROUP BY source
       |), tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_toks) AS BIGINT) AS total_tokens
       |  FROM doc_tok GROUP BY source
       |)
       |SELECT t.source, t.n_docs, p.n_assessed, p.n_removed, p.removed_tokens,
       |       (p.removed_tokens * 1000000) // t.total_tokens AS removed_ppm,
       |       p.sum_dup_ppm // p.n_assessed AS mean_dup_ppm
       |FROM tot t JOIN per p USING (source)
       |ORDER BY t.source""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q24_exact_dedup", Some(q24Sql), q24),
    QuerySpec("q25_minhash_lsh", Some(q25Sql), q25),
    QuerySpec("q26_ngram_jaccard", Some(q26Sql), q26),
    QuerySpec("q27_simhash", Some(q27Sql), q27,
      // graft_simhash docs-per-task must fit the object-agg hash map
      // (the q157 rule; int[nbits] buffers, input-bounded)
      confs = Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 20).toString)),
    QuerySpec("q63_simhash_neardup", Some(q63Sql), q63,
      // graft_simhash docs-per-task must fit the object-agg hash map
      // (the q157 rule; int[nbits] buffers, input-bounded)
      confs = Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 20).toString)),
    QuerySpec("q71_containment", Some(q71Sql), q71),
    QuerySpec("q84_incremental_neardup", Some(q84Sql), q84),
    QuerySpec("q103_lsh_recall", Some(q103Sql), q103),
    QuerySpec("q106_lsh_precision", Some(q106Sql), q106),
    QuerySpec("q129_simhash_curve", Some(q129Sql), q129,
      // graft_simhash docs-per-task must fit the object-agg hash map
      // (the q157 rule; int[nbits] buffers, input-bounded)
      confs = Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 20).toString)),
    QuerySpec("q137_bloom_dedup_filter", Some(q137Sql), q137),
    QuerySpec("q146_paragraph_dedup", Some(q146Sql), q146, aqe = false),
    QuerySpec("q168_dedup_threshold_curve", Some(q168Sql), q168),
    QuerySpec("q175_minhash_calibration", Some(q175Sql), q175),
  )
}
