package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators the reference pipeline stops short
  * of but a 100 TB corpus build needs: sequence packing, mixture
  * (re-weighting) sampling, TF-IDF term salience, and the duplicated
  * n-gram quality signal.
  *
  *  - q75 sequence packing: assign documents to fixed-token-budget
  *    training packs. Greedy global first-fit is inherently sequential;
  *    the scalable form is bucketed sequential fill — hash documents
  *    into B independent buckets, then one running-sum window per
  *    bucket assigns each doc to the pack containing its start offset.
  *    Parallelism = B (in production B = executor-core count, here 8),
  *    and no global sort ever happens.
  *  - q76 mixture sampling: resample the corpus to target per-source
  *    proportions (the "data mixing" step before tokenization). Two
  *    passes: a tiny per-source count aggregate determines the largest
  *    feasible output under the target mix, then a per-row
  *    deterministic hash keeps exactly rate_s of each source. The big
  *    table is filtered map-side; only row counts shuffle.
  *  - q77 TF-IDF: per-document top-k salient terms. The idf factor is
  *    the RATIONAL N/df, not ln(N/df) — ln() is not bit-portable
  *    across libm implementations and its few distinct inputs here
  *    collide at hash boundaries (same choice as q59's BM25 idf).
  *  - q78 duplicated n-gram fraction: the RefinedWeb-style quality
  *    signal — per doc, the share of its distinct word bigrams that
  *    also occur in some other document — rolled into a decile
  *    histogram. Reuses the q26 shingle kernel.
  *
  * Scale notes (100 TB):
  *  - q75 shuffles each doc's (id, token-count) pair once — 16 bytes a
  *    row, not the text; pack assignment is a window over each bucket.
  *  - q76's count pass and rate table are bounded by source
  *    cardinality (broadcast); the keep-filter is a codegen'd integer
  *    hash per row, pushed right above the scan.
  *  - q77 keeps df/N on the vocabulary side (broadcast) and computes
  *    tf with map-side combine on (doc_id, token).
  *  - q78's doc-frequency uses a window over shingles (one shuffle by
  *    shingle, shared with the q26 kernel's shape); the histogram is a
  *    tiny final aggregate.
  */
object PipelineQueries {

  private val PackBudget = 2048
  private val PackBuckets = 8

  // ---------------------------------------------------------------- q75
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % PackBuckets).as("bucket"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val seq = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum", sum(col("tok")).over(seq))
      // a doc belongs to the pack containing its START offset (docs may
      // straddle pack boundaries; the tokenizer splits them downstream)
      .withColumn("pack",
        floor((col("cum") - col("tok")).cast("double") / PackBudget).cast("long"))
      .groupBy(col("bucket"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"))
      .withColumn("fill_rate",
        Det.rate(col("pack_tokens").cast("double") / PackBudget))
      .orderBy(col("bucket"), col("pack"))
  }

  private val q75Sql =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $PackBuckets AS bucket,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents
       |), c AS (
       |  SELECT bucket, doc_id, tok,
       |         CAST(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT bucket,
       |       CAST(floor(CAST(cum - tok AS DOUBLE) / $PackBudget) AS BIGINT) AS pack,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       |       floor(CAST(sum(tok) AS DOUBLE) / $PackBudget * 1e6 + 0.5) / 1e6 AS fill_rate
       |FROM c GROUP BY bucket, pack ORDER BY bucket, pack""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Relative target weight for a source: srcK → K % 4 + 1 (a 1:2:3:4
    * mix pattern over the generator's srcN naming). */
  private val relW = substring(col("source"), 4, 10).cast("int") % 4 + 1

  /** q76's second corpus pass as a frame (package-visible so the
    * plan-shape spec can assert the broadcast join — the registered
    * q76 collects this |sources|-row result and finishes driver-side,
    * so its final plan is just a LocalRelation sort).
    *
    * The per-row uniform is deterministic — the first 48 bits of
    * md5(doc_id) as a fraction of 2^48 (rand(seed) is partition-
    * layout-dependent and never oracle-safe). md5 rather than a
    * multiplicative hash: the old `doc_id * 2654435761 % 2^32` form
    * overflowed signed 64-bit once doc_id ≳ 3.5e9 — Spark wraps
    * silently where DuckDB raises, so the pair diverged exactly at
    * 100-TB-sized ids. 48 bits stay exact in double (< 2^53) and the
    * hex prefix parses identically in both engines (q19/q57 family). */
  private[operators] def q76KeptFrame(s: SparkSession, dir: String,
      rates: Seq[(String, Double)]): DataFrame = {
    val u48 = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("bigint").cast("double")
    val ratesDf = { import s.implicits._; rates.toDF("source", "rate") }
    Tables.documents(s, dir)
      .join(broadcast(ratesDf), Seq("source"))
      .filter(u48 < col("rate") * lit(281474976710656e0)) // 2^48
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
  }

  private def q76(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // pass 1: per-source counts + relative weights — BOUNDED
    // (|sources| rows). Everything between the two corpus passes is
    // arithmetic over this bounded frame, and every relational step
    // of it (caps, rates, the share total, the merge) was its own
    // job: the event log showed 19 jobs per run, each a ~50–100 ms
    // round trip, on a query whose real work is two map-side scans.
    // The bounded arithmetic now runs ON THE DRIVER with the exact
    // double ops the oracle text spells (same IEEE sequence → same
    // bits), and the query is its two inherent corpus passes + one
    // LocalRelation sort.
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_orig"))
      .withColumn("rel", relW.cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // largest feasible output size T under the target mix, and the
    // total relative weight R — oracle: min(n_orig::DOUBLE * r_tot / rel)
    val rTot = counts.map(_._3).sum
    val tMax = counts.map { case (_, nOrig, rel) => nOrig.toDouble * rTot / rel }.min
    val rates = counts.map { case (src, nOrig, rel) =>
      (src, rel.toDouble * tMax / (rTot * nOrig))
    }
    // pass 2 (the second inherent corpus scan)
    val kept = q76KeptFrame(s, dir, rates.toSeq)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // merge + shares, driver-side with the oracle's exact op order:
    // kept_share = floor(n_kept / total * 1e6 + 0.5) / 1e6 (Det.rate),
    // target_share = floor(rel / r_tot * 1e6 + 0.5) / 1e6
    val keptTotal = counts.map { case (src, _, _) => kept.getOrElse(src, 0L) }.sum
    val sc6 = math.pow(10, 6)
    def rate6(x: Double): Double = math.floor(x * sc6 + 0.5) / sc6
    val rows = counts.map { case (src, nOrig, rel) =>
      val nKept = kept.getOrElse(src, 0L)
      org.apache.spark.sql.Row(src, nOrig, rel, nKept,
        rate6(nKept.toDouble / keptTotal), rate6(rel.toDouble / rTot))
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("n_orig", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("rel", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("n_kept", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("kept_share", org.apache.spark.sql.types.DoubleType, false),
        org.apache.spark.sql.types.StructField("target_share", org.apache.spark.sql.types.DoubleType, false))))
      .orderBy(col("source"))
  }

  private val q76Sql =
    """WITH counts AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_orig,
      |         CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS rel
      |  FROM documents GROUP BY source
      |), caps AS (
      |  SELECT min(CAST(n_orig AS DOUBLE) * r_tot / rel) AS t_max,
      |         max(r_tot) AS r_tot
      |  FROM (SELECT *, CAST(sum(rel) OVER () AS BIGINT) AS r_tot FROM counts)
      |), rates AS (
      |  SELECT source, CAST(rel AS DOUBLE) * t_max / (r_tot * n_orig) AS rate
      |  FROM counts, caps
      |), kept AS (
      |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
      |  FROM documents d JOIN rates r ON d.source = r.source
      |  WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)
      |                  AS BIGINT) AS DOUBLE)
      |        < r.rate * 281474976710656e0
      |  GROUP BY d.source
      |), merged AS (
      |  SELECT c.source, c.n_orig, c.rel, COALESCE(k.n_kept, 0) AS n_kept
      |  FROM counts c LEFT JOIN kept k ON c.source = k.source
      |)
      |SELECT source, n_orig, rel, n_kept,
      |       floor(CAST(n_kept AS DOUBLE) / (SELECT sum(n_kept) FROM merged)
      |             * 1e6 + 0.5) / 1e6 AS kept_share,
      |       floor(CAST(rel AS DOUBLE) / (SELECT r_tot FROM caps)
      |             * 1e6 + 0.5) / 1e6 AS target_share
      |FROM merged ORDER BY source""".stripMargin

  private val TfidfK = 3

  // ---------------------------------------------------------------- q77
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val tk = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // NOTE (r13): no persist/checkpoint here, deliberately — the
    // scored side's doc_id % 20 filter pushes through the aggregate
    // and the explode to the SCAN, so its "second pass" only explodes
    // 5% of the corpus; caching the full tf frame for it was
    // A/B-measured slower (1.31 -> 1.51 s sf0.1) and reverted.
    val tf = tk.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.filter(col("doc_id") % 20 === 0)
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      // tf * N exact in double (< 2^53), then ONE division — the same
      // op order as the oracle text, so bits match
      .withColumn("score",
        Det.rate(col("tf").cast("double") * col("n_docs") / col("df")))
      .withColumn("rn", row_number().over(byDoc).cast("long"))
      .filter(col("rn") <= TfidfK)
      .select(col("doc_id"), col("rn"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  private val q77Sql =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM tk GROUP BY doc_id, tok
       |), df AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
       |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |         floor(CAST(tf.tf AS DOUBLE) * n.n_docs / df.df * 1e6 + 0.5) / 1e6 AS score,
       |         row_number() OVER (PARTITION BY tf.doc_id
       |                            ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.df DESC,
       |                                     tf.tok) AS rn
       |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
       |  WHERE tf.doc_id % 20 = 0
       |)
       |SELECT doc_id, rn, tok, tf, df, score
       |FROM scored WHERE rn <= $TfidfK ORDER BY doc_id, rn""".stripMargin

  // ---------------------------------------------------------------- q78
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val bySh = Window.partitionBy(col("s"))
    val perDoc = DedupQueries.shingles(s, dir)
      .withColumn("docs_with", count(lit(1)).over(bySh))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("docs_with") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        Det.rate(col("n_dup").cast("double") / col("n_grams")))
    perDoc
      .withColumn("decile", floor(col("dup_frac") * 10).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("grams_total"))
      .orderBy(col("decile"))
  }

  private val q78Sql =
    s"""WITH sh AS (${DedupQueries.shinglesSql}),
       |dfreq AS (
       |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS docs_with FROM sh
       |), per_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM dfreq GROUP BY doc_id
       |), frac AS (
       |  SELECT doc_id, n_grams,
       |         floor(CAST(n_dup AS DOUBLE) / n_grams * 1e6 + 0.5) / 1e6 AS dup_frac
       |  FROM per_doc
       |)
       |SELECT CAST(floor(dup_frac * 10) AS BIGINT) AS decile,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_grams) AS BIGINT) AS grams_total
       |FROM frac GROUP BY 1 ORDER BY decile""".stripMargin

  private val ChunkSize = 50
  private val ChunkStride = 40

  // ---------------------------------------------------------------- q83
  /** Overlapping document chunking — the retrieval/embedding prep step
    * (window 50 tokens, stride 40 → 10-token overlap). Chunk starts are
    * a per-row `sequence()` explode (linear, codegen'd, no join); the
    * report aggregates chunk counts/lengths per source. The inverse
    * relationship to q75: packing concatenates docs up to a budget,
    * chunking splits docs down to one. At 100 TB the explode multiplies
    * rows ~n/stride BEFORE the shuffle, so the aggregate's map-side
    * combine is what keeps the exchange at |sources| rows — chunk TEXT
    * extraction (slice(t, start+1, 50)) would ride the same plan when
    * chunks feed an embedding stage instead of a stats report. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("source"), size(col("t")).as("n"))
    t.select(col("doc_id"), col("source"), col("n"),
        explode(expr(s"sequence(0, n - 1, $ChunkStride)")).as("start"))
      .withColumn("clen", least(lit(ChunkSize), col("n") - col("start")).cast("long"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("clen") === ChunkSize, 1L).otherwise(0L)).as("full_chunks"),
        sum(col("clen")).as("chunk_tokens"))
      .withColumn("avg_chunk_len",
        Det.rate(col("chunk_tokens").cast("double") / col("n_chunks")))
      .orderBy(col("source"))
  }

  private val q83Sql =
    s"""WITH t AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n FROM documents
       |), c AS (
       |  SELECT doc_id, source, n,
       |         unnest(generate_series(0, n - 1, $ChunkStride)) AS start
       |  FROM t
       |)
       |SELECT source,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(CASE WHEN least($ChunkSize, n - start) = $ChunkSize
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS full_chunks,
       |       CAST(sum(least($ChunkSize, n - start)) AS BIGINT) AS chunk_tokens,
       |       floor(CAST(sum(least($ChunkSize, n - start)) AS DOUBLE) / count(*)
       |             * 1e6 + 0.5) / 1e6 AS avg_chunk_len
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  private val PpsK = 50
  private val PpsBuckets = 8

  // ---------------------------------------------------------------- q87
  /** Weighted exact-k sampling by BUCKETED systematic PPS (Madow's
    * method): docs occupy intervals equal to their token counts on a
    * line; k equally-spaced probes at (j + ½)·W/k pick the doc under
    * each probe. Selection probability is proportional to size, the
    * draw count is EXACTLY k, and a doc longer than its bucket's probe
    * stride can be drawn multiple times (`hits`). All selection is
    * integer arithmetic — probe-under-doc is (2j+1)·W ≤ 2k·cum — so it
    * is bit-identical across engines and layouts, unlike any
    * real-valued exponential-clock sampler (A-ES needs ln/pow, which
    * are not hash-portable; the q19/q57 md5 samplers are the
    * UNWEIGHTED siblings).
    *
    * The probe rule is applied at TWO levels so no global window ever
    * exists in the plan:
    *  1. bucket quotas — buckets (doc_id % B) laid on the line in
    *     bucket order get k_b = S(bcum) − S(bcum − w_b) probes each,
    *     Σ k_b = k exactly because the allocation is itself systematic
    *     PPS over bucket masses. The B-row cumulative mass is a
    *     triangular B×B broadcast self-join, not a window.
    *  2. within-bucket draws — the identical rule with (k_b, w_b) over
    *     the bucket's own running sum, a window PARTITIONED BY bucket
    *     (q75's shape: parallel across buckets, ~1/B of the rows each).
    *
    * Scale: what shuffles is (doc_id, token_count) — 16 bytes a row —
    * hash-partitioned across B-at-100TB = O(cluster) buckets; there is
    * no single-reducer stage anywhere (PipelinePlanShapeSpec pins the
    * absence of an unpartitioned WindowExec). */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    // scale-gated waist on the tokenized frame: `cum` and `bt` each
    // reference it and Spark re-executes references (two full tokenize
    // scans, round-13 sortaudit); 3 longs per doc, output-sized. Gated
    // because at sf0.1 the eager job cost more than the re-tokenize it
    // saved (r13 verdict: 0.30 → 0.42 s).
    val toks = Det.waist(Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"),
        (col("doc_id") % PpsBuckets).as("bucket")), dir)
    val perBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = toks.withColumn("cum", sum(col("tok")).over(perBucket))
    // bt feeds bc (twice: both self-join sides) and tot — B-row frame
    val bt = Det.waist(
      toks.groupBy(col("bucket")).agg(sum(col("tok")).as("w_b")), dir)
    // bucket-level cumulative mass: B² = 64-row triangular broadcast
    // self-join — deliberately not a window
    val bc = bt.join(
        broadcast(bt.select(col("bucket").as("b2"), col("w_b").as("w2"))),
        col("b2") <= col("bucket"))
      .groupBy(col("bucket"), col("w_b")).agg(sum(col("w2")).as("bcum"))
    val tot = bt.agg(sum(col("w_b")).as("w_tot"))
    // probes-at-or-below a cumulative point: S(c) = #{j : (2j+1)·W ≤ 2k·c}
    // — `div` (integer division), never `/` (double division on longs)
    def probes(k: String, w: String)(c: String): String =
      s"CASE WHEN 2 * $k * $c - 1 - $w >= 0 " +
        s"THEN (2 * $k * $c - 1 - $w) div (2 * $w) + 1 " +
        "ELSE CAST(0 AS BIGINT) END"
    val pTot = probes(PpsK.toString, "w_tot") _
    val quotas = bc.crossJoin(broadcast(tot))
      .withColumn("k_b", expr(s"${pTot("bcum")} - ${pTot("(bcum - w_b)")}"))
      .select(col("bucket"), col("w_b"), col("k_b"))
    val pB = probes("k_b", "w_b") _
    cum.join(broadcast(quotas), Seq("bucket"))
      .withColumn("hits", expr(s"${pB("cum")} - ${pB("(cum - tok)")}"))
      .filter(col("hits") >= 1)
      .select(col("doc_id"), col("tok"), col("hits"))
      .orderBy(col("doc_id"))
  }

  private val q87Sql = {
    def probes(k: String, w: String)(c: String): String =
      s"CASE WHEN 2 * $k * $c - 1 - $w >= 0 " +
        s"THEN (2 * $k * $c - 1 - $w) // (2 * $w) + 1 " +
        "ELSE 0 END"
    val pTot = probes(PpsK.toString, "w_tot") _
    val pB = probes("k_b", "w_b") _
    val hits = s"(${pB("cum")} - ${pB("(cum - tok)")})"
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
       |         doc_id % $PpsBuckets AS bucket
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, tok, bucket,
       |         CAST(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t
       |), bt AS (
       |  SELECT bucket, CAST(sum(tok) AS BIGINT) AS w_b FROM t GROUP BY bucket
       |), bc AS (
       |  SELECT a.bucket, a.w_b, CAST(sum(b.w_b) AS BIGINT) AS bcum
       |  FROM bt a JOIN bt b ON b.bucket <= a.bucket GROUP BY a.bucket, a.w_b
       |), w AS (SELECT CAST(sum(w_b) AS BIGINT) AS w_tot FROM bt
       |), kq AS (
       |  SELECT bucket, w_b,
       |         (${pTot("bcum")} - ${pTot("(bcum - w_b)")}) AS k_b
       |  FROM bc, w
       |)
       |SELECT doc_id, tok, hits FROM (
       |  SELECT c.doc_id, c.tok, $hits AS hits
       |  FROM c JOIN kq USING (bucket)
       |) WHERE hits >= 1 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q90
  /** Exact-substring duplication spans (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * operator, re-expressed relationally): find every W-token window
    * whose hash occurs in ≥ 2 DISTINCT documents, merge each doc's
    * duplicated windows into maximal spans (overlapping windows count
    * their union of tokens, not W per window), and report per source
    * the share of tokens living inside cross-document duplicated spans.
    *
    * The suffix-array original is a single-machine algorithm; the
    * distributed shape is: rolling window hashes (stride 1, md5 of the
    * joined tokens — bit-identical in both engines) → per-hash distinct
    * doc count (one shuffle of 16-byte hashes, never text) → the
    * duplicated-window positions per doc → gaps-and-islands span merge
    * (two window functions over the doc partition) → per-source
    * integer ppm. Docs shorter than W carry zero duplicated tokens but
    * still count in the denominator.
    *
    * Scale: the wh shuffle is the only full-data exchange the ALGORITHM
    * needs and it moves (doc_id, pos, 16-byte hash) — the bench-only
    * Tables.spread repartition also moves raw rows, but at scale scans
    * arrive pre-partitioned and it drops out; span merging is
    * doc-partitioned; the
    * per-source rollup is |sources| rows. A df-cap on pathological
    * windows (the q26 stop-shingle move) bounds hot hashes if a corpus
    * has boilerplate — not needed at this vocabulary. */
  private val SpanW = 10

  /** (doc_id, source, t, n_tokens) base frame both span queries scan. */
  private[operators] def spanDocs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))

  /** Merged cross-doc duplicated-span islands per doc — (doc_id, st, en),
    * 0-based token positions, [st, en) half-open, islands DISJOINT by
    * construction (the gaps-and-islands merge). Shared by q90 (profile)
    * and q117 (scrub) so the two agree on what a duplicated span IS. */
  private[operators] def dupIslands(docs: DataFrame): DataFrame = {
    val wins = docs.filter(size(col("t")) >= SpanW)
      .select(col("doc_id"),
        // graft_gram_md5s: digests fed straight from token bytes — no
        // per-window slice array, gram string or interpreted lambda
        // (WordGramsSpec pins it against the HOF md5 chain, guide §4)
        posexplode(expr(s"graft_gram_md5s(t, $SpanW, 1)"))
          .as(Seq("pos", "wh")))
    // duplicated across documents: ≥ 2 distinct docs share the hash
    val byHash = Window.partitionBy(col("wh"))
    val dupPos = wins.select(col("doc_id"), col("wh")).distinct()
      .withColumn("docs_with", count(lit(1)).over(byHash))
      .filter(col("docs_with") >= 2)
      .select(col("doc_id"), col("wh"))
      .join(wins, Seq("doc_id", "wh"))
      .select(col("doc_id"), col("pos").cast("long").as("st"),
        (col("pos") + SpanW).cast("long").as("en"))
    // gaps-and-islands: a window opens a new island iff it starts past
    // every previous window's end; island id = running count of opens
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("st"))
    dupPos
      .withColumn("prev_end", max(col("en")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens", when(col("prev_end").isNull || col("st") > col("prev_end"), 1L)
        .otherwise(0L))
      .withColumn("island", sum(col("opens")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      .select(col("doc_id"), col("st"), col("en"))
  }

  /** The island table as a STANDING ARTIFACT: q90 and q117 each
    * re-ran the full window-hash pipeline (rolling md5 over every
    * token position → 16-byte-hash shuffle → two doc-partitioned
    * windows) to re-derive the SAME disjoint island set — 27 + 27 s
    * at the 100× replica, the #2 warm cost after the gram explodes.
    * The islands are corpus state (narrow: doc_id + two longs,
    * bounded by n_tokens/W rows per doc and in practice far fewer),
    * so they are built once per dataset; the registered consumers
    * keep only their own scan-side work (q90: the per-source rollup
    * over doc token counts; q117: the text scrub + fingerprint). */
  private[operators] def dupIslandsFrame(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "dup_islands")(dupIslands(spanDocs(s, dir)))

  private def q90(s: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(s, dir)
    val spans = dupIslandsFrame(s, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("en") - col("st")).as("dup_tokens"))
    docs.select(col("doc_id"), col("source"), col("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_tokens") > 0, 1L).otherwise(0L)).as("docs_with_dup"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(col("dup_tokens")).as("tokens_dup"))
      .withColumn("dup_token_ppm",
        expr("(tokens_dup * 1000000) div tokens_total"))
      .orderBy(col("source"))
  }

  /** Shared oracle CTE chain, text → merged disjoint islands per doc
    * (`sp`: doc_id, st, en). q90Sql and q117Sql both build on this one
    * text, mirroring the shared [[dupIslands]] kernel. */
  private val spanCtePrefix =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |), base AS (
       |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens FROM d
       |), wins AS (
       |  SELECT doc_id, i AS pos,
       |         md5(array_to_string(list_slice(t, i + 1, i + $SpanW), ' ')) AS wh
       |  FROM d, unnest(generate_series(0, len(t) - $SpanW)) AS u(i)
       |  WHERE len(t) >= $SpanW
       |), dw AS (
       |  SELECT doc_id, wh FROM (
       |    SELECT doc_id, wh,
       |           count(*) OVER (PARTITION BY wh) AS docs_with
       |    FROM (SELECT DISTINCT doc_id, wh FROM wins)
       |  ) WHERE docs_with >= 2
       |), dp AS (
       |  SELECT w.doc_id, CAST(w.pos AS BIGINT) AS st,
       |         CAST(w.pos + $SpanW AS BIGINT) AS en
       |  FROM wins w JOIN dw ON dw.doc_id = w.doc_id AND dw.wh = w.wh
       |), isl AS (
       |  SELECT doc_id, st, en,
       |         CASE WHEN prev_end IS NULL OR st > prev_end THEN 1 ELSE 0 END AS opens
       |  FROM (
       |    SELECT doc_id, st, en,
       |           max(en) OVER (PARTITION BY doc_id ORDER BY st
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |             AS prev_end
       |    FROM dp)
       |), grp AS (
       |  SELECT doc_id, st, en,
       |         sum(opens) OVER (PARTITION BY doc_id ORDER BY st
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS island
       |  FROM isl
       |), sp AS (
       |  SELECT doc_id, CAST(min(st) AS BIGINT) AS st, CAST(max(en) AS BIGINT) AS en
       |  FROM grp GROUP BY doc_id, island
       |)""".stripMargin

  private val q90Sql =
    s"""$spanCtePrefix, spans AS (
       |  SELECT doc_id, CAST(sum(en - st) AS BIGINT) AS dup_tokens
       |  FROM sp GROUP BY doc_id
       |)
       |SELECT b.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN COALESCE(s.dup_tokens, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS docs_with_dup,
       |       CAST(sum(b.n_tokens) AS BIGINT) AS tokens_total,
       |       CAST(sum(COALESCE(s.dup_tokens, 0)) AS BIGINT) AS tokens_dup,
       |       CAST((sum(COALESCE(s.dup_tokens, 0)) * 1000000) // sum(b.n_tokens) AS BIGINT)
       |         AS dup_token_ppm
       |FROM base b LEFT JOIN spans s ON s.doc_id = b.doc_id
       |GROUP BY b.source ORDER BY b.source""".stripMargin

  // --------------------------------------------------------------- q113
  /** Deterministic epoch shuffle + shard assignment — the training
    * data-loader step between curation and the trainer: each epoch
    * permutes the corpus with a seeded hash (md5 of epoch:doc_id — a
    * different, reproducible order every epoch, the "reshuffle each
    * epoch" training requirement) and deals docs into S shards by the
    * hash's top bits, with shard-local order given by the same key.
    * Output per (epoch, shard): doc/token balance plus an order
    * FINGERPRINT (md5 of the shard's doc ids in shard order) — the
    * audit a reproducibility harness compares across reruns and across
    * engines; any nondeterminism in the shuffle shows up as a changed
    * fingerprint, not a silent training-order drift.
    *
    * Scale: this IS Spark's repartition + sortWithinPartitions writer
    * shape — one hash shuffle on (epoch, shard), shard-local sort, no
    * global order anywhere. The fingerprint's collect_list is bounded
    * by shard size here; a 100 TB run would fingerprint fixed-size
    * position blocks instead (same chained-hash idea, bounded state),
    * while the assignment path ships unchanged. */
  private val ShuffleEpochs = 2
  private val Shards = 8

  private def q113(s: SparkSession, dir: String): DataFrame = {
    val epochs = array((0 until ShuffleEpochs).map(e => lit(e.toLong)): _*)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        explode(epochs).as("epoch"))
      .withColumn("k", md5(concat(
        col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard",
        conv(substring(col("k"), 1, 12), 16, 10).cast("bigint") % Shards)
      .groupBy(col("epoch"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(array_join(expr(
          "transform(sort_array(collect_list(struct(k, doc_id))), x -> CAST(x.doc_id AS STRING))"),
          ",")).as("order_fp"))
      .orderBy(col("epoch"), col("shard"))
  }

  private val q113Sql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), e AS (
       |  SELECT epoch, doc_id, n_tokens,
       |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM d, (SELECT unnest([${(0 until ShuffleEpochs).mkString(", ")}]) AS epoch)
       |), s AS (
       |  SELECT epoch, doc_id, n_tokens, k,
       |         CAST('0x' || substr(k, 1, 12) AS BIGINT) % $Shards AS shard
       |  FROM e
       |)
       |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY k, doc_id))
       |         AS order_fp
       |FROM s GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  // --------------------------------------------------------------- q116
  /** Padding-waste audit: the counterfactual that justifies q75/q102's
    * packing — pad-to-batch-max batching (the BERT-era dataloader
    * shape: B rows per batch, every row padded to the batch's longest
    * sequence, docs truncated at the model's max length) costs real
    * FLOPs, and sorting by length before batching recovers most of
    * them. Both strategies are computed exactly: docs deal into
    * independent shards, a per-shard row_number in arrival (doc_id)
    * order vs length-sorted order assigns batches of B, and per batch
    * pad = rows·max(len) − Σlen. Output: one row per strategy with
    * total padding and waste ppm of the padded slot volume — the
    * number a "switch to packing / sorted batching" decision reads.
    *
    * Scale: batch assignment is q113's repartition+sortWithinPartitions
    * writer shape — windows partitioned BY SHARD (never global, either
    * order), parallelism = shard count; the rollup meets at
    * |shards×strategies| rows. Sorting by length inside a shard is
    * exactly what production length-bucketed loaders do. */
  private val MaxSeqLen = 128L
  private val PadBatchRows = 8
  private val PadShards = 8

  private def q116(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        least(size(split(col("text"), " ")).cast("long"), lit(MaxSeqLen)).as("len"))
      .withColumn("shard", col("doc_id") % PadShards)
    def strat(name: String, order: Seq[org.apache.spark.sql.Column]) = {
      val w = Window.partitionBy(col("shard")).orderBy(order: _*)
      base
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("b", expr(s"(rn - 1) div $PadBatchRows"))
        .groupBy(col("shard"), col("b"))
        .agg(count(lit(1)).as("n_rows"), sum(col("len")).as("tok_sum"),
          max(col("len")).as("mx"))
        .groupBy()
        .agg(sum(col("n_rows")).as("n_docs"), count(lit(1)).as("n_batches"),
          sum(col("tok_sum")).as("real_tokens"),
          sum(col("mx") * col("n_rows") - col("tok_sum")).as("pad_tokens"))
        .withColumn("strategy", lit(name))
    }
    strat("arrival", Seq(col("doc_id")))
      .unionByName(strat("length_sorted", Seq(col("len"), col("doc_id"))))
      .withColumn("waste_ppm",
        expr("(pad_tokens * 1000000) div (real_tokens + pad_tokens)"))
      .select(col("strategy"), col("n_docs"), col("n_batches"),
        col("real_tokens"), col("pad_tokens"), col("waste_ppm"))
      .orderBy(col("strategy"))
  }

  private val q116Sql = {
    def chain(tag: String, order: String) =
      s"""b_$tag AS (
         |  SELECT shard,
         |         (row_number() OVER (PARTITION BY shard ORDER BY $order) - 1)
         |           // $PadBatchRows AS b,
         |         len
         |  FROM base
         |), g_$tag AS (
         |  SELECT shard, b, count(*) AS n_rows, CAST(sum(len) AS BIGINT) AS tok_sum,
         |         CAST(max(len) AS BIGINT) AS mx
         |  FROM b_$tag GROUP BY shard, b
         |), t_$tag AS (
         |  SELECT '$tag' AS strategy, CAST(sum(n_rows) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_batches,
         |         CAST(sum(tok_sum) AS BIGINT) AS real_tokens,
         |         CAST(sum(mx * n_rows - tok_sum) AS BIGINT) AS pad_tokens
         |  FROM g_$tag
         |)""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CAST(least(len(string_split(text, ' ')), $MaxSeqLen) AS BIGINT) AS len,
       |         doc_id % $PadShards AS shard
       |  FROM documents
       |), ${chain("arrival", "doc_id")}, ${chain("length_sorted", "len, doc_id")}
       |SELECT strategy, n_docs, n_batches, real_tokens, pad_tokens,
       |       CAST((pad_tokens * 1000000) // (real_tokens + pad_tokens) AS BIGINT)
       |         AS waste_ppm
       |FROM (SELECT * FROM t_arrival UNION ALL SELECT * FROM t_length_sorted)
       |ORDER BY strategy""".stripMargin
  }

  // --------------------------------------------------------------- q117
  /** Exact-substring scrub — q90's spans MATERIALIZED as the cleaned
    * corpus (the step Lee et al.'s ExactSubstr tool actually performs
    * after finding duplicates): every token inside a cross-document
    * duplicated span is cut from every occurrence (the conservative
    * all-copies variant; keep-one-canonical is the documented
    * alternative and would only change which single doc keeps each
    * span). Output per doc: original/dup/kept token counts and the
    * md5 fingerprint of the scrubbed text — the content a downstream
    * tokenization run would actually consume, audit-able by hash.
    *
    * The cut itself is a scan-side indexed-lambda filter over the
    * doc's own token array against its (collected, disjoint-by-
    * construction) island list — per-doc CPU, no extra shuffle beyond
    * q90's island computation; the islands list per doc is bounded by
    * n_tokens/W. kept_tokens ≡ n_tokens − dup_tokens is structural
    * (islands are disjoint) and spec-pinned.
    *
    * Scale: identical exchange profile to q90 (the 16-byte window-hash
    * shuffle + doc-partitioned windows) plus one broadcast-free
    * doc-keyed join of the |dup-docs| island frame back to the text —
    * at 100 TB that join is doc_id-equi and shuffles only dup docs'
    * (few) island structs against the text scan. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(s, dir)
    val spans = dupIslandsFrame(s, dir)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("st"), col("en"))).as("spans"),
        sum(col("en") - col("st")).as("dup_tokens"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", when(col("spans").isNull, col("t"))
        .otherwise(expr(
          "filter(t, (x, i) -> NOT exists(spans, sp -> sp.st <= i AND i < sp.en))")))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        md5(concat_ws(" ", col("kept"))).as("cleaned_fp"))
      .orderBy(col("doc_id"))
  }

  private val q117Sql =
    s"""$spanCtePrefix, dupt AS (
       |  SELECT doc_id, CAST(sum(en - st) AS BIGINT) AS dup_tokens
       |  FROM sp GROUP BY doc_id
       |), toks AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS ord, unnest(t) AS tok FROM d
       |), kept AS (
       |  SELECT t.doc_id, t.ord, t.tok FROM toks t
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |                    WHERE sp.doc_id = t.doc_id
       |                      AND sp.st <= t.ord - 1 AND t.ord - 1 < sp.en)
       |), ka AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
       |         md5(string_agg(tok, ' ' ORDER BY ord)) AS fp
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.source, b.n_tokens,
       |       CAST(COALESCE(dupt.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |       CAST(COALESCE(ka.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |       COALESCE(ka.fp, md5('')) AS cleaned_fp
       |FROM base b
       |LEFT JOIN dupt ON dupt.doc_id = b.doc_id
       |LEFT JOIN ka ON ka.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  // --------------------------------------------------------------- q162
  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003, §2.2 — the MOSS algorithm): hash every k-gram, slide a
    * window of w consecutive hashes over each document, and in each
    * window SELECT the minimum hash, rightmost position on ties. The
    * selected set is the document's fingerprint, with two paper
    * guarantees this query audits: any substring shared between two
    * documents of at least t = k + w − 1 tokens yields a shared
    * selected hash (detection), and the expected fingerprint density
    * is 2/(w+1) of the k-gram positions (compactness) — the property
    * that makes winnowing the fingerprint SAMPLER where q90 keeps
    * every window hash. Output per source: docs, winnow-eligible
    * k-gram positions, selected fingerprints, the measured density,
    * corpus-shared fingerprint hashes present in the source, and docs
    * flagged by at least one shared hash.
    *
    * The rightmost-min-with-ties rule is expressed relationally by
    * one running `min` over the key `struct(hash, −pos)` — struct
    * ordering IS (hash asc, pos desc), so both engines pick identical
    * winners with no argmax subquery (the oracle's fixed-width string
    * encoding `hash:(9999999−pos)` has the same total order).
    *
    * Scale: k-gram hashing and window selection are doc-partitioned
    * (one shuffle on doc_id, windows never global); only selected
    * 16-byte fingerprints — an expected 2/(w+1) sample — reach the
    * cross-doc sharing shuffle, which is the point of winnowing at
    * 100 TB: the corpus-wide exchange carries the sample, not every
    * window hash. */
  private val WinnowK = 4
  private val WinnowW = 4

  /** Fingerprint kernel over a (doc_id, source, t) frame — factored so
    * the spec can feed planted texts and verify the paper guarantees
    * directly. Emits one row per SELECTED (doc, window-winner):
    * (doc_id, source, sel_h, sel_pos). */
  private[operators] def winnowFingerprints(docs: DataFrame): DataFrame = {
    // Whole selection runs ARRAY-SIDE inside the doc row: hash every
    // k-gram once into `hs`, take each w-window's min over the STRUCT
    // key (h asc, pos desc — struct ordering IS the tie rule), and
    // array_distinct the winners BEFORE anything leaves the row. The
    // former shape posexploded every k-gram position into a
    // doc-partitioned window min — a full sort + window exchange over
    // N·L rows plus a corpus-wide DISTINCT shuffle of every position;
    // here nothing shuffles until the selected 2/(w+1) sample explodes
    // (measured 1.8 s → ~0.6 s at sf0.1, winners bit-identical).
    docs
      .filter(size(col("t")) - WinnowK + 1 >= WinnowW)
      .select(col("doc_id"), col("source"),
        // transform-over-singleton is the `let` idiom: it binds the
        // k-gram hash array `hs` ONCE per row (a named projection
        // would be inlined per reference by CollapseProject,
        // re-hashing the doc)
        explode(expr(
          s"""element_at(transform(
             |  array(graft_gram_md5s(t, $WinnowK, 1)),
             |  hs -> array_distinct(transform(
             |    sequence(0, size(hs) - $WinnowW),
             |    w -> array_min(transform(
             |      sequence(w, w + ${WinnowW - 1}),
             |      i -> struct(element_at(hs, i + 1) AS h,
             |                  -i AS negpos)))))), 1)""".stripMargin)).as("skey"))
      .select(col("doc_id"), col("source"),
        col("skey.h").as("sel_h"),
        (lit(0L) - col("skey.negpos")).cast("long").as("sel_pos"))
  }

  /** The corpus's winnowing fingerprint index as a STANDING ARTIFACT —
    * this is winnowing's entire reason to exist (SWA 2003 §4 build the
    * selected-hash index ONCE and serve every lookup from it), and
    * q162's own DAG references the frame three times (per-doc counts,
    * shared-hash domain, shared join), which without materialization
    * re-runs the full k-gram md5 pass per reference. The oracle
    * re-derives the index inline, so reuse can never mask a wrong
    * result (ArtifactsSpec pins artifact == fresh build). */
  private[operators] def winnowFp(s: SparkSession, dir: String): DataFrame =
    // the index rows carry `sh` (1 = the fingerprint hash is selected
    // by ≥2 distinct docs). Cross-doc sharing is a property OF the
    // index, so it is computed once at build time — q162's DAG
    // references the index on two output branches and would otherwise
    // re-derive the shared set per branch (two distinct+agg subtrees
    // in one plan)
    Artifacts.frame(s, dir, "winnow_fp") {
      // shared ⟺ ≥2 distinct docs select the hash ⟺ min(doc) ≠
      // max(doc) within the hash — ONE sel_h-keyed window pass, no
      // self-join, no second fingerprint fold
      val byH = Window.partitionBy(col("sel_h"))
      winnowFingerprints(spanDocs(s, dir))
        .withColumn("sh",
          (min(col("doc_id")).over(byH) =!= max(col("doc_id")).over(byH))
            .cast("long"))
    }

  private def q162(s: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(s, dir)
    val fp = winnowFp(s, dir)
    // ONE doc-keyed aggregate carries both per-doc counts — the former
    // shape ran two separate doc_id aggregates (total + shared) and
    // joined each into the doc frame, an exchange pair + join stage
    // this form retires (q162 is floor-bound at sf0.1: the win is
    // stage count, not bytes)
    val perDoc = fp.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("sh") === 1L, 1L).otherwise(0L)).as("n_shared"))
    val perSrcShared = fp.filter(col("sh") === 1L).groupBy(col("source"))
      .agg(countDistinct(col("sel_h")).as("shared_fp_hashes"))
    docs.select(col("doc_id"), col("source"),
        when(col("n_tokens") >= WinnowK + WinnowW - 1,
          col("n_tokens") - WinnowK + 1).otherwise(0L).as("n_pos"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_pos") === 0L, 1L).otherwise(0L)).as("n_short_docs"),
        sum(col("n_pos")).as("n_positions"),
        coalesce(sum(col("n_fp")), lit(0L)).as("n_fp"),
        sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("docs_matched"))
      .join(perSrcShared, Seq("source"), "left")
      .withColumn("shared_fp_hashes", coalesce(col("shared_fp_hashes"), lit(0L)))
      .withColumn("density_ppm",
        expr("CASE WHEN n_positions > 0 THEN (n_fp * 1000000) DIV n_positions END"))
      .select(col("source"), col("n_docs"), col("n_short_docs"),
        col("n_positions"), col("n_fp"), col("density_ppm"),
        col("shared_fp_hashes"), col("docs_matched"))
      .orderBy(col("source"))
  }

  private val q162Sql =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |), base AS (
       |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens FROM d
       |), wins AS (
       |  SELECT doc_id, source, CAST(len(t) - $WinnowK + 1 AS BIGINT) AS n_h,
       |         i AS pos,
       |         md5(array_to_string(list_slice(t, i + 1, i + $WinnowK), ' ')) AS h
       |  FROM d, unnest(generate_series(0, len(t) - $WinnowK)) AS u(i)
       |  WHERE len(t) >= ${WinnowK + WinnowW - 1}
       |), keyed AS (
       |  SELECT *, h || ':' || lpad(CAST(9999999 - pos AS VARCHAR), 7, '0') AS key
       |  FROM wins
       |), sel AS (
       |  SELECT DISTINCT doc_id, source, skey FROM (
       |    SELECT doc_id, source, pos, n_h,
       |           min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                          ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
       |             AS skey
       |    FROM keyed)
       |  WHERE pos <= n_h - $WinnowW
       |), fp AS (
       |  SELECT doc_id, source, substr(skey, 1, 32) AS sel_h FROM sel
       |), shared AS (
       |  SELECT sel_h FROM (SELECT DISTINCT doc_id, sel_h FROM fp)
       |  GROUP BY sel_h HAVING count(*) >= 2
       |), pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id
       |), pds AS (
       |  SELECT doc_id, count(*) AS n_shared
       |  FROM fp JOIN shared USING (sel_h) GROUP BY doc_id
       |), ssh AS (
       |  SELECT source, CAST(count(DISTINCT sel_h) AS BIGINT) AS shared_fp_hashes
       |  FROM fp JOIN shared USING (sel_h) GROUP BY source
       |), pos AS (
       |  SELECT b.doc_id, b.source,
       |         CASE WHEN b.n_tokens >= ${WinnowK + WinnowW - 1}
       |              THEN b.n_tokens - $WinnowK + 1 ELSE 0 END AS n_pos
       |  FROM base b
       |), roll AS (
       |  SELECT p.source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN p.n_pos = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_short_docs,
       |         CAST(sum(p.n_pos) AS BIGINT) AS n_positions,
       |         CAST(COALESCE(sum(pd.n_fp), 0) AS BIGINT) AS n_fp,
       |         CAST(sum(CASE WHEN COALESCE(pds.n_shared, 0) > 0 THEN 1 ELSE 0 END)
       |              AS BIGINT) AS docs_matched
       |  FROM pos p
       |  LEFT JOIN pd ON pd.doc_id = p.doc_id
       |  LEFT JOIN pds ON pds.doc_id = p.doc_id
       |  GROUP BY p.source
       |)
       |SELECT r.source, r.n_docs, r.n_short_docs, r.n_positions, r.n_fp,
       |       CASE WHEN r.n_positions > 0
       |            THEN CAST((r.n_fp * 1000000) // r.n_positions AS BIGINT)
       |       END AS density_ppm,
       |       CAST(COALESCE(ssh.shared_fp_hashes, 0) AS BIGINT) AS shared_fp_hashes,
       |       r.docs_matched
       |FROM roll r LEFT JOIN ssh ON ssh.source = r.source
       |ORDER BY r.source""".stripMargin

  // --------------------------------------------------------------- q177
  /** Context-length ladder: the L-selection table contrasting the two
    * loader strategies q75/q116 assume one of, at L ∈ {64, 128, 256,
    * 512} — (a) pad-per-doc (every doc chunked to ⌈len/L⌉ sequences,
    * final chunk padded: zero cross-doc contamination, real FLOP
    * waste) vs (b) concat-and-chunk (GPT-style: each source's docs
    * concatenated in doc_id order and cut every L tokens: near-zero
    * padding — only each source's final chunk — but every chunk whose
    * window spans a doc boundary leaks cross-doc attention unless
    * masked, the q152 channel). Both accountings are exact integers:
    * padding waste from per-doc arithmetic alone; the contaminated-
    * chunk count from per-source running token offsets — a doc
    * CONTRIBUTES contamination iff it starts mid-chunk (offset % L ≠
    * 0), and distinct such chunks are counted without materializing
    * chunks. Emits per L: chunks/waste-ppm under (a), chunks, tail
    * padding, and contaminated-chunk ppm under (b) — read together
    * with q169's length moments, this IS the context-length decision.
    *
    * Scale: the offsets need each source's running token sum — the
    * ONE sequential ingredient, windowed over the narrow (source,
    * doc_id, len) projection exactly like q163's rank ladder; the ×4
    * L-ladder join feeds map-side-combined 4-row aggregates. */
  private val CtxLadder = Seq(64L, 128L, 256L, 512L)

  private def q177(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val bySrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("len"))
      .filter(col("len") >= 1L)
      .withColumn("off", coalesce(sum(col("len")).over(bySrc), lit(0L)))
    val ladder = CtxLadder.toDF("l")
    val perDoc = docs.crossJoin(ladder)
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"),
        sum(expr("(len + l - 1) DIV l")).as("pad_chunks"),
        sum(expr("((len + l - 1) DIV l) * l - len")).as("pad_tokens"),
        // concat strategy: a doc starting mid-chunk contaminates the
        // chunk it starts in; dedup chunk ids per (source, l) is not
        // needed because at most one doc STARTS in any position —
        // count distinct contaminated chunks as distinct off DIV l
        // among mid-chunk starts
        countDistinct(when(expr("off % l != 0"),
          concat_ws(":", col("source"), expr("off DIV l"))))
          .as("contaminated_chunks"))
    val perSrc = docs.groupBy(col("source")).agg(sum(col("len")).as("stok"))
      .crossJoin(ladder)
      .groupBy(col("l"))
      .agg(sum(expr("(stok + l - 1) DIV l")).as("concat_chunks"),
        sum(expr("((stok + l - 1) DIV l) * l - stok")).as("concat_tail_pad"))
    perDoc.join(perSrc, Seq("l"))
      .select(col("l").as("seq_len"), col("n_docs"), col("total_tokens"),
        col("pad_chunks"), col("pad_tokens"),
        expr("(pad_tokens * 1000000) DIV (pad_chunks * l)").as("pad_waste_ppm"),
        col("concat_chunks"), col("concat_tail_pad"),
        expr("(contaminated_chunks * 1000000) DIV concat_chunks")
          .as("contaminated_ppm"))
      .orderBy(col("seq_len"))
  }

  private val q177Sql =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |              AS BIGINT) AS len
       |  FROM documents
       |), o AS MATERIALIZED (
       |  SELECT source, doc_id, len,
       |         CAST(COALESCE(sum(len) OVER (PARTITION BY source ORDER BY doc_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS off
       |  FROM d WHERE len >= 1
       |), ls AS (SELECT CAST(unnest([${CtxLadder.mkString(", ")}]) AS BIGINT) AS l),
       |pd AS (
       |  SELECT ls.l, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len) AS BIGINT) AS total_tokens,
       |         CAST(sum((len + ls.l - 1) // ls.l) AS BIGINT) AS pad_chunks,
       |         CAST(sum(((len + ls.l - 1) // ls.l) * ls.l - len) AS BIGINT)
       |           AS pad_tokens,
       |         CAST(count(DISTINCT CASE WHEN off % ls.l <> 0
       |              THEN source || ':' || CAST(off // ls.l AS VARCHAR) END)
       |              AS BIGINT) AS contaminated_chunks
       |  FROM o CROSS JOIN ls GROUP BY ls.l
       |), ps AS (
       |  SELECT ls.l,
       |         CAST(sum((stok + ls.l - 1) // ls.l) AS BIGINT) AS concat_chunks,
       |         CAST(sum(((stok + ls.l - 1) // ls.l) * ls.l - stok) AS BIGINT)
       |           AS concat_tail_pad
       |  FROM (SELECT source, CAST(sum(len) AS BIGINT) AS stok FROM o GROUP BY source)
       |  CROSS JOIN ls GROUP BY ls.l
       |)
       |SELECT pd.l AS seq_len, pd.n_docs, pd.total_tokens, pd.pad_chunks,
       |       pd.pad_tokens,
       |       (pd.pad_tokens * 1000000) // (pd.pad_chunks * pd.l) AS pad_waste_ppm,
       |       ps.concat_chunks, ps.concat_tail_pad,
       |       (pd.contaminated_chunks * 1000000) // ps.concat_chunks
       |         AS contaminated_ppm
       |FROM pd JOIN ps ON ps.l = pd.l
       |ORDER BY seq_len""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q75_sequence_packing", Some(q75Sql), q75),
    QuerySpec("q76_mixture_sampling", Some(q76Sql), q76),
    QuerySpec("q77_tfidf_topk", Some(q77Sql), q77),
    QuerySpec("q78_dupgram_fraction", Some(q78Sql), q78),
    QuerySpec("q83_doc_chunking", Some(q83Sql), q83),
    QuerySpec("q87_pps_sample", Some(q87Sql), q87),
    QuerySpec("q90_dup_spans", Some(q90Sql), q90),
    QuerySpec("q113_epoch_shards", Some(q113Sql), q113),
    QuerySpec("q116_padding_waste", Some(q116Sql), q116),
    QuerySpec("q117_span_scrub", Some(q117Sql), q117),
    QuerySpec("q162_winnow_fingerprint", Some(q162Sql), q162),
    QuerySpec("q177_context_ladder", Some(q177Sql), q177),
  )
}
