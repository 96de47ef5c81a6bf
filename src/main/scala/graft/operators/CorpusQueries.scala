package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond pairwise dedup (BASELINE.json north_star, round 3):
  *
  *  - q54 dedup CLUSTERING: near-dup pairs → connected components →
  *    one canonical doc per group (the step after q25/q26/q39).
  *  - q55 decontamination: flag training docs whose word-8-gram overlap
  *    with a held-out benchmark set exceeds a threshold.
  *  - q56 repetition quality (Gopher-style): top-token fraction and
  *    duplicate-bigram fraction per doc → keep/drop flag.
  *  - q57 stratified sampling: exact-k per language by deterministic
  *    md5 order (training-mix construction).
  *  - q58 scalar-quantized ANN: global-min/max 8-bit codes (4× memory
  *    compression of float32), cosine top-k on DEQUANTIZED vectors,
  *    with per-result agreement vs the exact float ranking.
  *  - q59 BM25 relevance scoring against a fixed query (rational idf).
  *  - q60 incremental snapshot merge (SCD-1 / MERGE-INTO shape) with
  *    an insert/update/keep audit column.
  *  - q70 curation filter funnel (round 4): first-rejecting-filter
  *    attribution across short/repetitive/exact-dup/near-dup stages.
  *
  * All are DuckDB-hash-checked, including the connected-components
  * fixpoint (recursive CTE in the oracle) and the full quantize →
  * dequantize → rank pipeline.
  */
object CorpusQueries {

  /** Max element multiplicity of a string-array expression as ONE
    * codegen'd HOF pass (sort, then longest equal-run) — replaces the
    * explode + two-level hash-agg + join-back shape for per-doc token
    * stats: no shuffle, no join, stats stay scan-side columns. */
  private def maxRun(arr: String): org.apache.spark.sql.Column = expr(
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
       |    'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))),
       |  acc -> acc.best)""".stripMargin)

  /** Total occurrences of elements appearing ≥ 2 times in a string-array
    * expression (the RefinedWeb duplicated-occurrence numerator), same
    * sorted-run pass: runs of length ≥ 2 contribute their full length. */
  private def dupOcc(arr: String): org.apache.spark.sql.Column = expr(
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'dup', 0L),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
       |    'dup', acc.dup + IF(x <=> acc.prev, 0L, IF(acc.run >= 2L, acc.run, 0L))),
       |  acc -> acc.dup + IF(acc.run >= 2L, acc.run, 0L))""".stripMargin)

  // ---------------------------------------------------------------- q54
  /** Dedup clustering: every doc labeled with the min doc_id reachable
    * through near-dup edges (singletons label themselves), plus cluster
    * size and a canonical-representative flag. Downstream "keep one per
    * cluster" is `filter($"is_canonical")`. The edge set is q26's exact
    * kernel (word-bigram shingles, stop-shingle df ≤ 25, Jaccard ≥ 0.3
    * on the rounded value — identical predicate, so edges match the
    * oracle bit-for-bit). */
  private def q54(s: SparkSession, dir: String): DataFrame =
    // re-assert the output order: the artifact is materialized RDD
    // blocks, whose scan does not carry the builder's sort
    clusterMap(s, dir).orderBy(col("doc_id"))

  /** The dedup clustering as a STANDING ARTIFACT ([[Artifacts]]):
    * (doc_id, component_id, csize, is_canonical) is corpus state —
    * q54 publishes it and q97/q109/q128/q142/q150/q153 consume it;
    * re-deriving the full shingle → pair → iterative-CC chain per
    * consumer was ~1 s of identical work each (the round-7 perf
    * audit's top finding). Built once per dataset from the standalone
    * derivation below; ArtifactsSpec pins artifact == fresh build. */
  private[operators] def clusterMap(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "cluster_map")(
      clustersFrom(s, Tables.documents(s, dir).select(col("doc_id").as("id")),
        DedupQueries.jaccardPairs(s, dir)))

  /** Clustering body over any node and jaccard-pair frames: the
    * `cluster_map` artifact and q159's pre-ingest map. */
  private[operators] def clustersFrom(
      s: SparkSession, nodes: DataFrame, jaccard: DataFrame): DataFrame = {
    val pairs = jaccard
      .select(col("doc_a").as("src"), col("doc_b").as("dst")).persist()
    try {
      // materialize the edge cache BEFORE it forks into the CC loop's
      // consumers — racing a cold cache re-runs the whole shingle kernel
      // once per consumer (measured 2-3× on the init action)
      pairs.count()
      // ConnectedComponents seeds its loop from the edge set, so only
      // edge-incident nodes ride the rounds; the full doc set joins as
      // self-labels in one final anti-join (near-dup singletons — the
      // vast majority at corpus scale — never pay a loop shuffle)
      val comp = ConnectedComponents.auto(nodes, pairs)
      // cluster size via ONE window pass (groupBy+join would re-scan and
      // re-shuffle the frame twice)
      comp
        .select(col("id").as("doc_id"), col("component").as("component_id"),
          count(lit(1)).over(Window.partitionBy(col("component"))).as("csize"),
          (col("id") === col("component")).as("is_canonical"))
        .orderBy(col("doc_id"))
    } finally
      // CC's run() counts its SQL-cached label output before returning,
      // so the edge cache has served every consumer by now; releasing
      // it here (not at session end) is what keeps q54 AND q97 — two
      // invocations per catalog run — from stranding cache entries
      pairs.unpersist()
  }

  /** Shared recursive-CTE prefix: jaccard pairs → undirected edges →
    * min-label reachability → per-doc component (used by q54 and
    * q97). */
  private[operators] val ccPrefix =
    s"""WITH RECURSIVE sh AS MATERIALIZED (${DedupQueries.shinglesSql}),
       |rare AS MATERIALIZED (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |),
       |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
       |),
       |comp AS MATERIALIZED (SELECT doc_id, min(lbl) AS component_id FROM reach GROUP BY doc_id)""".stripMargin

  private val q54Sql =
    s"""$ccPrefix,
       |cs AS (SELECT component_id, count(*) AS csize FROM comp GROUP BY component_id)
       |SELECT c.doc_id, c.component_id, cs.csize,
       |       (c.doc_id = c.component_id) AS is_canonical
       |FROM comp c JOIN cs ON cs.component_id = c.component_id
       |ORDER BY c.doc_id""".stripMargin

  // --------------------------------------------------------------- q174
  /** Single-linkage transitivity audit: q54 clusters by CONNECTIVITY,
    * so a cluster of k docs is justified by as few as k−1 of its
    * k(k−1)/2 possible near-dup pairs — the classic dedup over-merge
    * risk (two distinct templates bridged by one chimeric doc). Per
    * cluster size: clusters, direct artifact pairs, implied pairs,
    * and transitivity = direct/implied in ppm — 10⁶ means every pair
    * was independently measured similar (a clique, merge is safe);
    * near the k−1 tree floor means the cluster leans on chains and
    * deserves the q97/q150 survivor review before deletion. The
    * 2-clusters pin the audit's floor: a pair IS its own clique, so
    * their row must read exactly 10⁶.
    *
    * Scale: both inputs are standing artifacts (pair set, cluster
    * map); the audit is one doc_a-keyed equi join of PAIRS to the
    * map, then two bounded rollups (per-component, then per-size). */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val cm = clusterMap(s, dir)
      .select(col("doc_id"), col("component_id"), col("csize"))
    val direct = DedupQueries.jaccardPairs(s, dir)
      .join(cm.select(col("doc_id").as("doc_a"), col("component_id")), Seq("doc_a"))
      .groupBy(col("component_id")).agg(count(lit(1)).as("direct"))
    cm.filter(col("csize") >= 2L)
      .select(col("component_id"), col("csize")).distinct()
      .join(direct, Seq("component_id"), "left")
      .withColumn("direct", coalesce(col("direct"), lit(0L)))
      .withColumn("implied", expr("csize * (csize - 1) DIV 2"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("direct")).as("direct_pairs"),
        sum(col("implied")).as("implied_pairs"))
      .withColumn("transitivity_ppm",
        expr("(direct_pairs * 1000000) DIV implied_pairs"))
      .select(col("csize"), col("n_clusters"), col("direct_pairs"),
        col("implied_pairs"), col("transitivity_ppm"))
      .orderBy(col("csize"))
  }

  private val q174Sql =
    s"""$ccPrefix,
       |cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS csize
       |       FROM comp GROUP BY component_id),
       |dir AS (
       |  SELECT c.component_id, CAST(count(*) AS BIGINT) AS direct
       |  FROM pairs p JOIN comp c ON c.doc_id = p.doc_a
       |  GROUP BY c.component_id
       |), percomp AS (
       |  SELECT cs.component_id, cs.csize, COALESCE(d.direct, 0) AS direct,
       |         cs.csize * (cs.csize - 1) // 2 AS implied
       |  FROM cs LEFT JOIN dir d ON d.component_id = cs.component_id
       |  WHERE cs.csize >= 2
       |)
       |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(sum(direct) AS BIGINT) AS direct_pairs,
       |       CAST(sum(implied) AS BIGINT) AS implied_pairs,
       |       (CAST(sum(direct) AS BIGINT) * 1000000)
       |         // CAST(sum(implied) AS BIGINT) AS transitivity_ppm
       |FROM percomp GROUP BY csize ORDER BY csize""".stripMargin

  // --------------------------------------------------------------- q128
  /** Duplicate-cluster size distribution — the dedup report's standard
    * figure (how much of the corpus sits in 2-clusters vs heavy
    * near-dup families, and how big the worst family is): per
    * connected-component size, the cluster count, total docs, and
    * their share of the corpus. The size histogram decides the dedup
    * strategy review — a fat tail of large clusters means template
    * spam that q110's boilerplate pass should own instead.
    *
    * Scale: rides q54's clustering (one row per doc, narrow columns);
    * the histogram aggregates |clusters| rows to at most |distinct
    * sizes| — map-side combined, then q06's broadcast share-of-total
    * (never an unpartitioned window). */
  private def q128(s: SparkSession, dir: String): DataFrame =
    Share.of(
        clusterMap(s, dir)
          .filter(col("is_canonical"))
          .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
          .withColumn("n_docs", col("csize") * col("n_clusters")),
        "n_docs", "doc_share")
      .select(col("csize"), col("n_clusters"), col("n_docs"), col("doc_share"))
      .orderBy(col("csize"))

  private val q128Sql =
    s"""$ccPrefix,
       |cs AS (SELECT component_id, count(*) AS csize FROM comp GROUP BY component_id),
       |h AS (SELECT csize, count(*) AS n_clusters FROM cs GROUP BY csize)
       |SELECT CAST(csize AS BIGINT) AS csize, CAST(n_clusters AS BIGINT) AS n_clusters,
       |       CAST(csize * n_clusters AS BIGINT) AS n_docs,
       |       floor(CAST(csize * n_clusters AS DOUBLE)
       |             / CAST((SELECT sum(csize * n_clusters) FROM h) AS DOUBLE)
       |             * 1e6 + 0.5) / 1e6 AS doc_share
       |FROM h ORDER BY csize""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Soft-dedup sampling weights — the REWEIGHT alternative to q97's
    * hard survivor selection: instead of dropping non-canonical family
    * members, every doc in a near-dup family of size n samples at
    * weight 1/n, so each family contributes exactly one doc's worth of
    * probability mass and no single variant is anointed (the
    * "duplication-aware downweighting" option pipelines take when
    * near-dups carry complementary edits). Output per source: raw
    * docs, EFFECTIVE docs (Σ 1/n in ppm), and the dedup discount —
    * the per-source multiplier a mixture designer applies to q105/q76
    * budgets so duplicated crawls stop buying weight with copies.
    *
    * Exactness: weights are 10⁶ div n integers; a family of size n
    * contributes n·(10⁶ div n) ≤ 10⁶ ppm (exact when n | 10⁶) — the
    * spec pins per-source sums and the corpus-level ≤ #families·10⁶
    * bound. Rides q54's clustering verbatim (shared clustersFrom /
    * ccPrefix), so weights and clusters cannot disagree.
    *
    * Scale: q54's envelope (banded pair generation + O(log n) CC
    * rounds) plus one doc_id-equi join against the narrow
    * (doc_id, source) projection and an |S|-row rollup. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    clusterMap(s, dir)
      .select(col("doc_id"), expr("1000000L DIV csize").as("wppm"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wppm")).as("eff_docs_ppm"))
      .withColumn("discount_ppm", expr("eff_docs_ppm DIV n_docs"))
      .orderBy(col("source"))
  }

  private val q142Sql =
    s"""$ccPrefix,
       |cs AS (SELECT component_id, count(*) AS csize FROM comp GROUP BY 1),
       |w AS (
       |  SELECT d.source, 1000000 // cs.csize AS wppm
       |  FROM documents d
       |  JOIN comp ON comp.doc_id = d.doc_id
       |  JOIN cs ON cs.component_id = comp.component_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(wppm) AS BIGINT) AS eff_docs_ppm,
       |       CAST(sum(wppm) AS BIGINT) // count(*) AS discount_ppm
       |FROM w GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Cluster-canonical survivor selection — the step that turns q54's
    * near-dup CLUSTERING into an actual deduplicated corpus: within
    * each connected component keep the best document (most tokens,
    * lowest doc_id on ties — "longest wins" is the usual quality proxy
    * when near-dups differ by truncation) and account the removal per
    * source: docs seen, docs kept, characters removed. This is the
    * survivorship report a curation run ships next to q70's funnel.
    *
    * Scale: rides q54's clustering output (doc_id, component) — the
    * canonical choice is ONE window pass partitioned by component
    * (components are near-dup clusters, bounded size), and the
    * accounting is a map-side-combined per-source aggregate. The
    * clusters↔stats join and the component window do shuffle one row
    * per document, but those rows are five narrow columns (ids +
    * three longs) — never text. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      length(col("text")).cast("long").as("n_chars"))
    val clusters = clusterMap(s, dir)
    clusters.select(col("doc_id"), col("component_id"))
      .join(docs, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component_id"))
          .orderBy(col("n_tok").desc, col("doc_id"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, col("n_chars")).otherwise(0L)).as("chars_removed"))
      .orderBy(col("source"))
  }

  // --------------------------------------------------------------- q150
  /** Quality-aware survivor selection — q97 with the survivor chosen
    * by MODEL QUALITY instead of length: within each near-dup family
    * keep the member with the lowest perplexity under q99's pruned
    * bigram LM (the D4 / SemDeDup-style "keep the best exemplar"
    * policy), and report how often that disagrees with q97's
    * longest-wins proxy and what the disagreement costs — per source
    * of the quality survivor: families, swapped picks, and the mean
    * survivor difficulty under each policy in exact µnat/bigram
    * (q_mean ≤ len_mean ALWAYS, by construction — the gap is the
    * quality left on the table by picking survivors by length).
    *
    * Rides q54's clustering and q99's [[SelectionQueries.docNll]]
    * verbatim (shared kernels — survivor choice can never disagree
    * with either upstream). Families are components with ≥ 2 members;
    * every family member has ≥ 8 tokens (the shingle floor), hence a
    * defined LM score — the COALESCE worst-case is a structural
    * guard, not a live path.
    *
    * Scale: q54's envelope + docNll's broadcast-model scoring; the
    * two rank windows partition by component (bounded family size)
    * over five narrow columns, and the rollup is |S| rows. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val clusters = clusterMap(s, dir)
    val q = SelectionQueries.docNll(s, dir)
      .select(col("doc_id"), expr("(nll * 1000) DIV nbg").as("q_unat"))
    clusters.filter(col("csize") >= 2)
      .select(col("doc_id"), col("component_id"))
      .join(docs, Seq("doc_id"))
      .join(q, Seq("doc_id"), "left")
      .withColumn("qv", coalesce(col("q_unat"), lit(1000000000L)))
      .withColumn("qrn", row_number().over(
        Window.partitionBy(col("component_id")).orderBy(col("qv"), col("doc_id"))))
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("component_id"))
          .orderBy(col("n_tok").desc, col("doc_id"))))
      .groupBy(col("component_id"))
      .agg(
        max(when(col("qrn") === 1, col("source"))).as("source"),
        max(when(col("qrn") === 1, col("doc_id"))).as("q_doc"),
        max(when(col("qrn") === 1, col("qv"))).as("q_q"),
        max(when(col("lrn") === 1, col("doc_id"))).as("l_doc"),
        max(when(col("lrn") === 1, col("qv"))).as("l_q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_families"),
        sum(when(col("q_doc") =!= col("l_doc"), 1L).otherwise(0L)).as("n_swapped"),
        sum(col("q_q")).as("sq"), sum(col("l_q")).as("sl"))
      .select(col("source"), col("n_families"), col("n_swapped"),
        expr("sq DIV n_families").as("q_survivor_mean_unat"),
        expr("sl DIV n_families").as("len_survivor_mean_unat"))
      .orderBy(col("source"))
  }

  private val q150Sql =
    s"""$ccPrefix,
       |${SelectionQueries.docNllSqlPrefix.replaceFirst("WITH ", "")},
       |qs AS (SELECT doc_id, (nll * 1000) // nbg AS q_unat FROM sc),
       |cs2 AS (SELECT component_id, count(*) AS csize FROM comp GROUP BY 1),
       |st2 AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |),
       |fam AS (
       |  SELECT c.component_id, c.doc_id, st2.source, st2.n_tok,
       |         COALESCE(qs.q_unat, 1000000000) AS qv
       |  FROM comp c
       |  JOIN cs2 ON cs2.component_id = c.component_id AND cs2.csize >= 2
       |  JOIN st2 ON st2.doc_id = c.doc_id
       |  LEFT JOIN qs ON qs.doc_id = c.doc_id
       |),
       |rk AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY component_id
       |                            ORDER BY qv, doc_id) AS qrn,
       |         row_number() OVER (PARTITION BY component_id
       |                            ORDER BY n_tok DESC, doc_id) AS lrn
       |  FROM fam
       |),
       |perfam AS (
       |  SELECT component_id,
       |         max(CASE WHEN qrn = 1 THEN source END) AS source,
       |         max(CASE WHEN qrn = 1 THEN doc_id END) AS q_doc,
       |         max(CASE WHEN qrn = 1 THEN qv END) AS q_q,
       |         max(CASE WHEN lrn = 1 THEN doc_id END) AS l_doc,
       |         max(CASE WHEN lrn = 1 THEN qv END) AS l_q
       |  FROM rk GROUP BY 1
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_families,
       |       CAST(sum(CASE WHEN q_doc <> l_doc THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_swapped,
       |       CAST(sum(q_q) AS BIGINT) // count(*) AS q_survivor_mean_unat,
       |       CAST(sum(l_q) AS BIGINT) // count(*) AS len_survivor_mean_unat
       |FROM perfam GROUP BY source ORDER BY source""".stripMargin

  private val q97Sql =
    s"""$ccPrefix,
       |stats AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
       |         len(text) AS n_chars
       |  FROM documents
       |),
       |ranked AS (
       |  SELECT st.source, st.n_chars,
       |         row_number() OVER (PARTITION BY c.component_id
       |                            ORDER BY st.n_tok DESC, c.doc_id) AS rn
       |  FROM comp c JOIN stats st ON st.doc_id = c.doc_id
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q109
  /** Dedup-aware train/val/test split assignment + leakage audit — the
    * step between q54's clustering and an actual training run: if
    * near-duplicate documents land in different splits, the eval set
    * leaks into training (the benchmark-contamination mechanism q55
    * screens for, created IN-HOUSE by a careless split). The fix every
    * serious pipeline applies: assign WHOLE near-dup clusters to one
    * split by hashing the CLUSTER id, not the doc id.
    *
    * Output: one row per (scheme, split) — docs, clusters, and the
    * number of near-dup edges with exactly one endpoint in the split
    * ("leak_edges"). The cluster scheme's leak count is structurally 0
    * (both endpoints share a component, components share a split); the
    * naive doc-id scheme shows the leakage a naive split would ship.
    * Split = md5-decile of the anchor id (8/1/1 train/val/test), the
    * q19/q76 engine-portable uniform.
    *
    * Scale: rides q54's clustering (the one RDD loop) + the SAME
    * cached jaccard-pair frame for the audit; everything after is
    * (id, component, split) rows — three narrow columns per doc, the
    * edge audit joins the pair list (already candidate-pruned by the
    * q26 kernel) against the assignment twice by id. No text moves. */
  private def splitDecile(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("split:"), c.cast("string"))), 1, 12), 16, 10)
      .cast("bigint") % 10

  private def splitName(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(d <= 7, "train").when(d === 8, "val").otherwise(lit("test"))

  private def q109(s: SparkSession, dir: String): DataFrame = {
    val jac = DedupQueries.jaccardPairs(s, dir)
      .select(col("doc_a"), col("doc_b")).persist()
    try {
      jac.count() // materialize once for the edge audit's two scans
      val clusters = clusterMap(s, dir)
      val asg = clusters.select(col("doc_id"), col("component_id"),
        splitName(splitDecile(col("component_id"))).as("cluster"),
        splitName(splitDecile(col("doc_id"))).as("naive"))
      val docsLong = asg.select(col("doc_id"), col("component_id"),
          explode(array(
            struct(lit("cluster").as("scheme"), col("cluster").as("split")),
            struct(lit("naive").as("scheme"), col("naive").as("split")))).as("x"))
        .select(col("x.scheme").as("scheme"), col("x.split").as("split"),
          col("doc_id"), col("component_id"))
      val docCounts = docsLong.groupBy(col("scheme"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component_id")).as("n_clusters"))
      val ea = asg.select(col("doc_id").as("doc_a"), col("cluster").as("ca"),
        col("naive").as("na"))
      val eb = asg.select(col("doc_id").as("doc_b"), col("cluster").as("cb"),
        col("naive").as("nb"))
      val edges = jac.join(ea, Seq("doc_a")).join(eb, Seq("doc_b"))
      val leakCluster = edges.filter(col("ca") =!= col("cb"))
        .select(explode(array(col("ca"), col("cb"))).as("split"))
        .withColumn("scheme", lit("cluster"))
      val leakNaive = edges.filter(col("na") =!= col("nb"))
        .select(explode(array(col("na"), col("nb"))).as("split"))
        .withColumn("scheme", lit("naive"))
      val leaks = leakCluster.unionByName(leakNaive)
        .groupBy(col("scheme"), col("split"))
        .agg(count(lit(1)).as("leak_edges"))
      docCounts.join(leaks, Seq("scheme", "split"), "left")
        .select(col("scheme"), col("split"), col("n_docs"), col("n_clusters"),
          coalesce(col("leak_edges"), lit(0L)).as("leak_edges"))
        .orderBy(col("scheme"), col("split"))
    } finally jac.unpersist()
  }

  private val q109Sql = {
    def decile(x: String) =
      s"(CAST('0x' || substr(md5('split:' || CAST($x AS VARCHAR)), 1, 12) AS BIGINT) % 10)"
    def name(x: String) =
      s"CASE WHEN ${decile(x)} <= 7 THEN 'train' WHEN ${decile(x)} = 8 THEN 'val' ELSE 'test' END"
    s"""$ccPrefix,
       |asg AS (
       |  SELECT doc_id, component_id,
       |         ${name("component_id")} AS cluster_split,
       |         ${name("doc_id")} AS naive_split
       |  FROM comp
       |), dl AS (
       |  SELECT 'cluster' AS scheme, cluster_split AS split, doc_id, component_id FROM asg
       |  UNION ALL
       |  SELECT 'naive', naive_split, doc_id, component_id FROM asg
       |), dc AS (
       |  SELECT scheme, split, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(count(DISTINCT component_id) AS BIGINT) AS n_clusters
       |  FROM dl GROUP BY 1, 2
       |), ep AS (
       |  SELECT a.cluster_split AS ca, a.naive_split AS na,
       |         b.cluster_split AS cb, b.naive_split AS nb
       |  FROM pairs p
       |  JOIN asg a ON a.doc_id = p.doc_a
       |  JOIN asg b ON b.doc_id = p.doc_b
       |), ll AS (
       |  SELECT 'cluster' AS scheme, u.s AS split
       |  FROM ep, unnest([ca, cb]) AS u(s) WHERE ca <> cb
       |  UNION ALL
       |  SELECT 'naive', u.s FROM ep, unnest([na, nb]) AS u(s) WHERE na <> nb
       |), lc AS (
       |  SELECT scheme, split, CAST(count(*) AS BIGINT) AS leak_edges
       |  FROM ll GROUP BY 1, 2
       |)
       |SELECT dc.scheme, dc.split, dc.n_docs, dc.n_clusters,
       |       CAST(COALESCE(lc.leak_edges, 0) AS BIGINT) AS leak_edges
       |FROM dc LEFT JOIN lc ON lc.scheme = dc.scheme AND lc.split = dc.split
       |ORDER BY dc.scheme, dc.split""".stripMargin
  }

  // ---------------------------------------------------------------- q55
  /** Distinct word-8-gram shingles per doc. 8-grams (not bigrams) so the
    * tiny synthetic vocabulary still yields near-unique benchmark
    * fingerprints — the same reason real decontamination uses 8-13-gram
    * overlap. */
  private def grams8(s: SparkSession, dir: String): DataFrame =
    grams8Of(Tables.spread(Tables.documents(s, dir), col("doc_id")))

  /** The ONE 8-gram kernel over any (doc_id, text) frame — shared with
    * the `NoveltyStream` twin (beside its spec in src/test) so the batch
    * q124 audit and the stream ingest gate can never disagree on
    * segmentation. */
  private[graft] def grams8Of(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 8)
      // graft_grams: the native gram kernel (one byte copy per gram)
      // replaces the interpreted transform/slice/concat_ws HOF chain —
      // WordGramsSpec pins the two byte-identical (guide §4)
      .select(col("doc_id"), explode(array_distinct(
        expr("graft_grams(t, 8)"))).as("g"))

  private val grams8Sql =
    """SELECT doc_id,
      |       unnest(list_distinct(list_transform(generate_series(0, len(t)-8),
      |              i -> array_to_string(list_slice(t, i+1, i+8), ' ')))) AS g
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |WHERE len(t) >= 8""".stripMargin

  /** Per-doc distinct 8-gram DIGESTS as a STANDING ARTIFACT — the
    * corpus-scale explode q55 (decontamination) and q124 (novelty)
    * share; each ran it privately (the #6/#9 warm lines at the 100×
    * replica). Same 60-bit md5-prefix digest ([[withGh]]) as
    * [[srcGrams8]]: the downstream membership joins shuffle/broadcast
    * 8-byte longs instead of ~50-byte gram strings. Rows are
    * (doc_id, gh) with gh carrying the per-doc STRING-distinct
    * multiplicity (no re-distinct on the digest — both engines agree
    * by construction). */
  private[graft] def docGrams8Frame(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "doc_grams8")(docGrams8Build(s, dir))

  /** Attach the gram digest `gh` to a frame carrying gram strings `g`:
    * the first 15 md5 hex chars (60 bits) as a BIGINT — the oracle's
    * own `substr(md5(g), 1, 15)`, so both engines derive it identically
    * and parity is structural. Over n distinct grams the expected
    * number of colliding pairs is about n²/2⁶¹ (≪ 1 up to ~10⁸ grams,
    * ~0.4 at 10⁹; ArtifactsSpec pins zero collisions over the test
    * vocabulary), and both engines conflate a colliding pair alike. */
  private def withGh(df: DataFrame): DataFrame =
    df.withColumn("gh", conv(substring(md5(col("g")), 1, 15), 16, 10).cast("bigint"))

  private[graft] def docGrams8Build(s: SparkSession, dir: String): DataFrame =
    withGh(grams8(s, dir)).drop("g")

  private val docGrams8Sql =
    s"""SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
       |FROM ($grams8Sql)""".stripMargin

  /** Benchmark decontamination: docs with doc_id % 50 = 0 form the
    * held-out benchmark; every other doc reports what fraction of its
    * distinct 8-grams appear anywhere in the benchmark set, flagged at
    * ≥ 5%. The benchmark fingerprint set is tiny relative to the corpus
    * (that is the real-world shape too) so it broadcasts: the training
    * side never shuffles. Both sides read the [[docGrams8Frame]]
    * standing artifact (shared with q124) — digests, never gram
    * strings, move through the join. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val g = docGrams8Frame(s, dir)
    val bench = g.filter(col("doc_id") % 50 === 0)
      .select(col("gh")).distinct()
    val train = g.filter(col("doc_id") % 50 =!= 0)
    // ONE aggregation: broadcast-left-join the (distinct) benchmark
    // fingerprints as a membership flag, count total and hit shingles in
    // the same hash agg — no second pass, no agg-agg join
    train.join(broadcast(bench.withColumn("hit", lit(1L))), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("contamination", Det.rate(col("n_hit").cast("double") / col("n_shingles")))
      .withColumn("flagged", col("contamination") >= 0.05)
      .select(col("doc_id"), col("n_shingles"), col("n_hit"), col("contamination"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  private val q55Sql =
    s"""WITH g AS ($docGrams8Sql),
       |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 50 = 0),
       |train AS (SELECT doc_id, gh FROM g WHERE doc_id % 50 <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
       |hits AS (SELECT t.doc_id, count(*) AS n_hit
       |         FROM train t JOIN bench b ON t.gh = b.gh GROUP BY t.doc_id)
       |SELECT t.doc_id, t.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
       |  floor((CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles) * 1e6 + 0.5) / 1e6
       |    AS contamination,
       |  floor((CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles) * 1e6 + 0.5) / 1e6 >= 0.05
       |    AS flagged
       |FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1 analogue):
    * per doc, the fraction of tokens that are the single most frequent
    * token, and the fraction of bigram OCCURRENCES whose bigram appears
    * ≥ 2 times in the doc. keep = both under threshold. Both signals
    * are single sorted-run array expressions per doc (maxRun/dupOcc) —
    * no explode, no shuffle, no join. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    // docs with < 2 tokens have no bigrams — the previous uni⨝dup
    // inner join dropped them; the filter keeps parity
    val docs = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        maxRun("t").as("top_c"),
        (size(col("t")) - 1).cast("long").as("n_bigrams"),
        dupOcc("graft_grams(t, 2)")
          .as("dup_occ"))
    // Det.ordered: maxRun/dupOcc are heavy exchange-free array work —
    // a bare orderBy re-ran the whole scan for the range sample
    Det.ordered(docs
      .withColumn("top_token_frac", Det.rate(col("top_c").cast("double") / col("n_tokens")))
      .withColumn("dup_bigram_frac", Det.rate(col("dup_occ").cast("double") / col("n_bigrams")))
      .withColumn("keep", col("top_token_frac") <= 0.2 && col("dup_bigram_frac") <= 0.5)
      .select(col("doc_id"), col("n_tokens"), col("top_token_frac"),
        col("dup_bigram_frac"), col("keep")),
      col("doc_id"))
  }

  private val q56Sql =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok
      |),
      |uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_c
      |        FROM tf GROUP BY doc_id),
      |bf AS (
      |  SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id,
      |               unnest(list_transform(generate_series(0, len(t)-2),
      |                      i -> t[i+1] || ' ' || t[i+2])) AS g
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |        WHERE len(t) >= 2)
      |  GROUP BY doc_id, g
      |),
      |dup AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
      |        FROM bf GROUP BY doc_id)
      |SELECT u.doc_id, u.n_tokens,
      |  floor((CAST(u.top_c AS DOUBLE) / u.n_tokens) * 1e6 + 0.5) / 1e6 AS top_token_frac,
      |  floor((CAST(d.dup_occ AS DOUBLE) / d.n_bigrams) * 1e6 + 0.5) / 1e6 AS dup_bigram_frac,
      |  (floor((CAST(u.top_c AS DOUBLE) / u.n_tokens) * 1e6 + 0.5) / 1e6 <= 0.2
      |   AND floor((CAST(d.dup_occ AS DOUBLE) / d.n_bigrams) * 1e6 + 0.5) / 1e6 <= 0.5) AS keep
      |FROM uni u JOIN dup d ON d.doc_id = u.doc_id
      |ORDER BY u.doc_id""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Stratified exact-k sampling: k=20 docs per language, ordered by
    * md5(doc_id) — a deterministic uniform permutation within each
    * stratum (same trick as q19, per group). Training-mix construction:
    * per-stratum quotas instead of global Bernoulli sampling. Scale:
    * one window over the stratum key; no driver collection. */
  private def q57(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
      .filter(col("rk") <= 20)
      .orderBy(col("lang"), col("rk"))

  private val q57Sql =
    """SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Scalar-quantized ANN: global min/max over all vector components →
    * 8-bit code per component (`floor(u*255+0.5)` — the bit-portable
    * round, Det.scala) → cosine top-5 per sampled query on DEQUANTIZED
    * vectors, each hit annotated with whether the exact float ranking
    * also has it in its top-5 (in_exact_topk — the recall signal).
    *
    * Scale: int8 codes are a 4× memory compression of float32 — at
    * 100 TB the quantized table is what you keep hot; min/max is one
    * global agg (2 doubles to the driver-free broadcast join below);
    * search cost is unchanged vs q28 and composes with q29's LSH
    * buckets / q42's IVF cells for pruning. The brute-force query set
    * here (2% sample) is the recall-validation shape, like q28. */
  /** The dequantized cosine is computed via the affine decomposition
    * dv_i = qmn + sfac·c_i, so
    *   dot(dva, dvb) = n·qmn² + qmn·sfac·(Σca + Σcb) + sfac²·Σ(ca·cb)
    *   ‖dv‖²        = n·qmn² + 2·qmn·sfac·Σc + sfac²·Σc²
    * where the code sums Σc, Σc², Σ(ca·cb) are INTEGER-valued doubles
    * (codes ≤ 255, dim 64 → sums < 2²³ ≪ 2⁵³), hence exact in any
    * summation order — the naive "dot of dequantized floats" form
    * differs across engines by a ulp exactly at round-to-1e-6
    * boundaries, which the 256-level discretization makes common. The
    * residual float expression is spelled with identical association
    * in the Spark plan and the oracle SQL, so it is bit-identical. */
  private def q58(s: SparkSession, dir: String): DataFrame =
    // Det.ordered before the global sort (ungated — the barrier
    // replaces a range-sample pass that costs at least as much at
    // EVERY scale): the event log showed the final ORDER BY's sample
    // re-running the whole Q·N candidate pass (two back-to-back
    // ~5.6 s save jobs at the 100× replica — the q72 signature)
    Det.ordered(q58Core(s, dir), col("qid"), col("rn"))

  /** q58's pre-barrier core (package-visible so the plan-shape spec
    * can assert the candidate join's BNLJ shape — the checkpoint
    * barrier in [[q58]] hides everything above it behind an
    * ExistingRDD scan in the final plan). */
  private[operators] def q58Core(s: SparkSession, dir: String): DataFrame = {
    def base = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    // BOUNDED driver materializations (the q28-family panel contract):
    // the 2-double quantization stats and the ≤ EvalPanelCap query
    // panel are collected once and re-enter the plan as literals /
    // a LocalRelation. Leaving them relational cost 6–9 SEQUENTIAL
    // broadcast-subquery jobs per run — each downstream query plan
    // re-executed the stats agg and the panel TakeOrdered as its own
    // subquery (no cross-query exchange reuse), which dominated the
    // sub-second sf0.1 time and re-scanned the corpus at 100×. Now:
    // one stats scan + one pruned panel scan + ONE candidate pass.
    // Per-row array_min/array_max THEN a global agg (N input rows, not
    // the 64·N explode — min of minima is the same exact double, no
    // arithmetic involved).
    // Both are standing artifacts (the q101 pq_model codebook pattern:
    // scalar-quantization stats and the eval panel are corpus state) —
    // a warm session reads them from memory and q58 is ONE
    // candidate pass + the sort barrier.
    val stRow = Artifacts.localFrame(s, dir, "sq8_stats") {
      base.select(array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
        .agg(min(col("mn")).as("qmn"), max(col("mx")).as("qmx"))
    }.head()
    val (qmn, qmx) = (stRow.getDouble(0), stRow.getDouble(1))
    def quantify(df: DataFrame): DataFrame = df
      .withColumn("qmn", lit(qmn)).withColumn("qmx", lit(qmx))
      // Spark floor → BIGINT (DuckDB's → DOUBLE); cast back so the code
      // arrays are array<double> in both engines (values stay integers)
      .withColumn("q",
        expr("transform(v, x -> CAST(CASE WHEN qmx = qmn THEN 0.0 ELSE " +
          "floor((x - qmn) / (qmx - qmn) * 255 + 0.5) END AS DOUBLE))"))
      .withColumn("sfac", (col("qmx") - col("qmn")) / lit(255.0))
      .withColumn("nq", size(col("v")).cast("double") * col("qmn") * col("qmn"))
      .withColumn("sa", expr("aggregate(q, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
      .withColumn("saa", VectorMath.dot("q", "q"))
      .withColumn("dn", sqrt(col("nq") + lit(2.0) * col("qmn") * col("sfac") * col("sa")
        + col("sfac") * col("sfac") * col("saa")))
      .withColumn("nrm", VectorMath.norm("v"))
      .select(col("vec_id"), col("v"), col("nrm"), col("q"), col("sa"),
        col("dn"), col("qmn"), col("sfac"), col("nq"))
    // the panel quantizes its own PRUNED scan (the old shape persisted
    // the whole quantized corpus — GBs of array blocks at 100× — just
    // so these ≤ 8 rows could read it) and lands as a LocalRelation
    val qset = Artifacts.localFrame(s, dir, "sq8_panel") {
      quantify(base.filter(col("vec_id") % 50 === 0))
        .orderBy(col("vec_id")).limit(SimilarityQueries.EvalPanelCap)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
          col("q").as("qq"), col("sa").as("qsa"), col("dn").as("qdn"))
    }
    val quant = quantify(base)
    // Both top-5 rankings ride ONE graft_topk pass over the Q·N
    // candidate stream (the q101/q157 packing): the two row_number
    // windows each per-partition-SORTED the full stream — at the 100×
    // replica two Q·N sorts dominated the query. Packing: similarities
    // are cosines in [-1, 1]; their µ-unit integer floor(x·1e6 + 0.5)
    // is exactly Det.rate's numerator, so ranking by the packed long
    // == (sim DESC, vec_id ASC) and the decoded µ/1e6 is bit-identical
    // to Det.rate's double. µ+10⁶ ∈ [0, 2·10⁶] < 2²¹ and vec_id < 2³⁵
    // (the q101 id contract) keep the pack injective in 56 bits.
    val MuShift = 1000000L
    val VMask = (1L << 35) - 1
    val simQRaw =
      when(col("qdn") * col("dn") === lit(0.0), lit(0.0)).otherwise(
        (col("nq") + col("qmn") * col("sfac") * (col("qsa") + col("sa"))
          + col("sfac") * col("sfac") * col("sdot")) / (col("qdn") * col("dn")))
    val simERaw = VectorMath.cosine("qv", "v", col("qn"), col("nrm"))
    def pack(sim: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (floor(sim * lit(1e6) + lit(0.5)).cast("long") + lit(MuShift)) * lit(1L << 35) +
        (lit(VMask) - col("vec_id"))
    val tops = quant.join(broadcast(qset), col("qid") =!= col("vec_id"))
      .withColumn("sdot", VectorMath.dot("qq", "q"))
      .select(col("qid"), pack(simQRaw).as("pkq"), pack(simERaw).as("pke"))
      .groupBy(col("qid"))
      .agg(expr("graft_topk(pkq, 5)").as("qt"), expr("graft_topk(pke, 5)").as("et"))
    tops
      .select(col("qid"), col("et"), posexplode(col("qt")).as(Seq("i", "pk")))
      .select(col("qid"), (col("i") + 1).cast("long").as("rn"),
        (lit(VMask) - (col("pk") % lit(1L << 35))).as("cid"),
        (((expr("pk DIV 34359738368") - MuShift)).cast("double") / lit(1e6)).as("sim_q"),
        array_contains(
          expr(s"transform(et, x -> $VMask - (x % 34359738368))"), // 2^35
          lit(VMask) - (col("pk") % lit(1L << 35))).as("in_exact_topk"))
  }

  private val q58Sql =
    """WITH nv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |st AS (SELECT min(x) AS qmn, max(x) AS qmx
      |       FROM (SELECT unnest(v) AS x FROM nv)),
      |quant AS (
      |  SELECT vec_id, v, qmn,
      |         sqrt(list_dot_product(v, v)) AS nrm,
      |         list_transform(v, x -> CASE WHEN qmx = qmn THEN 0.0 ELSE floor((x - qmn) / (qmx - qmn) * 255 + 0.5) END) AS q,
      |         (qmx - qmn) / 255.0 AS sfac,
      |         CAST(len(v) AS DOUBLE) * qmn * qmn AS nq
      |  FROM nv CROSS JOIN st
      |),
      |qd AS (
      |  SELECT vec_id, v, nrm, q, qmn, sfac, nq,
      |         list_sum(q) AS sa,
      |         sqrt(nq + 2.0 * qmn * sfac * list_sum(q)
      |              + sfac * sfac * list_dot_product(q, q)) AS dn
      |  FROM quant
      |),
      |qp AS (
      |  SELECT vec_id FROM qd WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 8
      |),
      |p AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |         floor((CASE WHEN q.dn * c.dn = 0 THEN 0.0
      |                ELSE (c.nq + c.qmn * c.sfac * (q.sa + c.sa)
      |                      + c.sfac * c.sfac * list_dot_product(q.q, c.q))
      |                     / (q.dn * c.dn) END) * 1e6 + 0.5) / 1e6 AS sim_q,
      |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim_exact
      |  FROM qd q JOIN qp ON q.vec_id = qp.vec_id
      |  JOIN qd c ON q.vec_id <> c.vec_id
      |),
      |r AS (SELECT qid, cid, sim_q,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim_q DESC, cid) AS rn,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim_exact DESC, cid) AS re
      |      FROM p)
      |SELECT qid, rn, cid, sim_q, (re <= 5) AS in_exact_topk
      |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- q59
  /** BM25 relevance scoring of the corpus against a fixed query
    * ("spark query fast"), k1 = 1.2, b = 0.75 — the classic retrieval /
    * quality-ranking kernel. The idf factor is the RATIONAL form
    * (N+1)/(df+1) rather than its logarithm: ln() differs by an ulp
    * between libm implementations, and with only a handful of distinct
    * df values a boundary collision at the 1e-6 rounding step is not
    * measure-zero (same reasoning as q58). ln is monotone in the
    * rational form, so per-term ranking is unaffected; the blended
    * score weighting is a documented deviation.
    *
    * Scale: tokens are filtered to the query terms BEFORE the tf
    * aggregation (the scan+explode never shuffles non-query tokens);
    * df and the (N, avgdl) scalars broadcast. Per-term scores pivot to
    * fixed columns so the final sum has a deterministic order. */
  private val Terms = Seq("spark", "query", "fast")

  private def q59(s: SparkSession, dir: String): DataFrame = {
    // scale-gated waists at the two narrow points: `d` feeds g AND the
    // scored join, `tf` feeds df AND scored — Spark re-executes
    // DataFrame references, so the pre-round-13 plan tokenized the
    // corpus FOUR times (sortaudit). Both frames are output-scale
    // (per-doc length; docs × |Terms| rows). Det.waist only
    // materializes above Scale's byte threshold: at sf0.1 the eager
    // job cost more than the re-tokenize it saved (r13 verdict:
    // 0.29 → 0.64 s), at 100× it is the 4.7 → 1.6 s win.
    val d = Det.waist(Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl")), dir)
    val g = d.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = Det.waist(Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(Terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")), dir)
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("tok"))
      .join(broadcast(d.withColumnRenamed("doc_id", "d_id")), col("d_id") === col("doc_id"))
      .crossJoin(broadcast(g))
      .withColumn("s",
        (col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)) * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
    val termCols = Terms.map(t =>
      coalesce(max(when(col("tok") === t, col("s"))), lit(0.0)).as(s"s_${t}"))
    val pivoted = scored.groupBy(col("doc_id")).agg(termCols.head, termCols.tail: _*)
    pivoted
      .select(col("doc_id"),
        Det.rate(col("s_spark") + col("s_query") + col("s_fast")).as("score"),
        Det.rate(col("s_spark")).as("s_spark"),
        Det.rate(col("s_query")).as("s_query"),
        Det.rate(col("s_fast")).as("s_fast"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val q59Sql =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok IN ('spark', 'query', 'fast')
      |  GROUP BY doc_id, tok
      |),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |s AS (
      |  -- scientific-notation literals force DOUBLE: DuckDB types bare
      |  -- 1.0/2.2 as DECIMAL and would run exact-decimal arithmetic,
      |  -- diverging from the engine's IEEE-double math
      |  SELECT tf.doc_id, tf.tok,
      |         (g.n_docs + 1e0) / (df.df + 1e0) * (tf.tf * 2.2e0)
      |           / (tf.tf + 1.2e0 * (1e0 - 7.5e-1 + 7.5e-1 * d.dl / g.avgdl)) AS s
      |  FROM tf JOIN df USING (tok) JOIN d ON d.doc_id = tf.doc_id CROSS JOIN g
      |),
      |p AS (
      |  SELECT doc_id,
      |         coalesce(max(CASE WHEN tok = 'spark' THEN s END), 0.0) AS s_spark,
      |         coalesce(max(CASE WHEN tok = 'query' THEN s END), 0.0) AS s_query,
      |         coalesce(max(CASE WHEN tok = 'fast' THEN s END), 0.0) AS s_fast
      |  FROM s GROUP BY doc_id
      |)
      |SELECT doc_id,
      |       floor((s_spark + s_query + s_fast) * 1e6 + 0.5) / 1e6 AS score,
      |       floor(s_spark * 1e6 + 0.5) / 1e6 AS s_spark,
      |       floor(s_query * 1e6 + 0.5) / 1e6 AS s_query,
      |       floor(s_fast * 1e6 + 0.5) / 1e6 AS s_fast
      |FROM p
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Incremental snapshot merge (SCD-1 / MERGE-INTO shape): the state
    * before the split instant is the base snapshot (latest row per
    * (user_id, event_type)), rows after it are the delta; the merge
    * emits the new snapshot with an action audit column — `insert`
    * (key only in delta), `update` (delta wins over base), `keep`
    * (untouched base key). ONE window pass computes both sides' latest
    * rows (the split flag is part of the window partition key); the
    * merge itself is a single hash aggregation (conditional struct
    * max), not a join.
    *
    * Scale: this is the batch form of the streaming upsert sink
    * (foreachBatch + MERGE); state and delta shuffle once each by the
    * merge key, and the audit column is what an incremental pipeline
    * checkpoints for reconciliation. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    val latest = Tables.events(s, dir)
      .withColumn("is_delta", col("ts") >= split)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("event_type"), col("is_delta"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
    latest.groupBy(col("user_id"), col("event_type"))
      .agg(
        max(when(!col("is_delta"), struct(col("ts"), col("value")))).as("b"),
        max(when(col("is_delta"), struct(col("ts"), col("value")))).as("d"))
      .select(col("user_id"), col("event_type"),
        when(col("b").isNull, "insert").when(col("d").isNull, "keep")
          .otherwise("update").as("action"),
        coalesce(col("d.value"), col("b.value")).as("new_value"),
        // epoch-ms BIGINT, not raw timestamp: Spark parquet writes ns
        // where the oracle compare expects µs (same convention as the
        // event-window queries)
        expr("unix_millis(coalesce(d.ts, b.ts))").as("new_ts_ms"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val q60Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_type, ts, value, event_id,
      |         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS is_delta
      |  FROM events
      |),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, is_delta
      |                                 ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM flagged) t
      |  WHERE rn = 1
      |),
      |b AS (SELECT user_id, event_type, ts AS b_ts, value AS b_value
      |      FROM latest WHERE NOT is_delta),
      |d AS (SELECT user_id, event_type, ts AS d_ts, value AS d_value
      |      FROM latest WHERE is_delta)
      |SELECT user_id, event_type,
      |       CASE WHEN b_ts IS NULL THEN 'insert'
      |            WHEN d_ts IS NULL THEN 'keep'
      |            ELSE 'update' END AS action,
      |       coalesce(d_value, b_value) AS new_value,
      |       epoch_ms(coalesce(d_ts, b_ts)) AS new_ts_ms
      |FROM b FULL OUTER JOIN d USING (user_id, event_type)
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Corpus-curation filter funnel (the C4/RefinedWeb pipeline shape):
    * every document is attributed to the FIRST filter that rejects it —
    * too short → repetitive (top-token fraction, Gopher-style; 0.15
    * suits this corpus's flat synthetic token distribution) →
    * low_entropy (q111's exact milli-nat Shannon gate — reads the
    * WHOLE token distribution, catching templated docs whose top
    * token alone stays under the repetitive bar) → exact duplicate
    * (not the min doc_id of its md5 group) → near duplicate (the
    * high-id side of a q26 Jaccard pair, i.e. "keep first
    * occurrence") — else kept. Output is the per-stage doc count and
    * share: the attribution report every curation run ships with.
    *
    * Scale: scan-side array-expression token stats (maxRun), one
    * window-min over md5 partitions for exact-dup, and the near-dup
    * side is dedup OUTPUT (tiny, broadcast into a left join). Stage
    * attribution is a single CASE — no per-filter rescans of the
    * corpus. */
  private def q70(s: SparkSession, dir: String): DataFrame =
    funnelFrom(s, dir, DedupQueries.jaccardPairs(s, dir))

  /** Funnel body over a given jaccard-pair frame. */
  private[operators] def funnelFrom(
      s: SparkSession, dir: String, jaccard: DataFrame): DataFrame = {
    // token-count stats as PURE ARRAY EXPRESSIONS on the scan (maxRun
    // scaladoc) — no explode, no two-level hash agg, no stats join;
    // semantics identical to the explode + groupBy form (and to the
    // oracle's per-doc subquery).
    val entN = "CAST(size(split(text, ' ')) AS BIGINT)"
    val docs = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        maxRun("split(text, ' ')").as("top_c"),
        expr(s"greatest(CAST(0 AS BIGINT), " +
          s"-(${TextQueries.entropyFoldExpr("split(text, ' ')", entN)}).ssum) DIV $entN")
          .as("ent"))
    val nearDup = jaccard
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    val staged = docs
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      // near-dup doc set grows with the corpus dup rate — unhinted
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_tok") < 30, "short")
          .when(col("top_c").cast("double") / col("n_tok") > 0.15, "repetitive")
          .when(col("ent") < TextQueries.EntropyKeepMnats, "low_entropy")
          .when(col("doc_id") =!= col("keep_id"), "exact_dup")
          .when(col("is_near").isNotNull, "near_dup")
          .otherwise("kept").as("stage"))
    Share.of(staged.groupBy(col("stage")).agg(count(lit(1)).as("docs")), "docs", "share")
      .orderBy(col("stage"))
  }

  private val q70Sql =
    s"""WITH sh AS (${DedupQueries.shinglesSql}),
       |rare AS MATERIALIZED (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |nd AS (
       |  SELECT DISTINCT doc_b FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |),
       |st AS (SELECT doc_id, string_split(text, ' ') AS t, md5(text) AS fp FROM documents),
       |tstat AS (
       |  SELECT doc_id, len(t) AS n_tok,
       |         (SELECT max(c) FROM (SELECT count(*) AS c FROM unnest(t) AS u(tok) GROUP BY tok)) AS top_c
       |  FROM st
       |),
       |efreq AS (
       |  SELECT doc_id, tok, count(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY doc_id, tok
       |),
       |ent AS (
       |  SELECT c.doc_id,
       |         CAST(greatest(0, -sum(c.c * ${EventQueries.lnSmallWeightSql("c.c", "nn.n")})) // nn.n AS BIGINT) AS ent
       |  FROM efreq c
       |  JOIN (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |        FROM documents) nn ON c.doc_id = nn.doc_id
       |  GROUP BY c.doc_id, nn.n
       |),
       |keepfirst AS (SELECT fp, min(doc_id) AS keep_id FROM st GROUP BY fp),
       |lab AS (
       |  SELECT s.doc_id,
       |    CASE WHEN t.n_tok < 30 THEN 'short'
       |         WHEN CAST(t.top_c AS DOUBLE) / t.n_tok > 0.15 THEN 'repetitive'
       |         WHEN e.ent < ${TextQueries.EntropyKeepMnats} THEN 'low_entropy'
       |         WHEN s.doc_id <> k.keep_id THEN 'exact_dup'
       |         WHEN s.doc_id IN (SELECT doc_b FROM nd) THEN 'near_dup'
       |         ELSE 'kept' END AS stage
       |  FROM st s JOIN tstat t ON t.doc_id = s.doc_id JOIN keepfirst k ON k.fp = s.fp
       |       JOIN ent e ON e.doc_id = s.doc_id
       |),
       |agg AS (SELECT stage, count(*) AS docs FROM lab GROUP BY stage)
       |SELECT stage, CAST(docs AS BIGINT) AS docs,
       |       floor(CAST(docs AS DOUBLE) / CAST((SELECT sum(docs) FROM agg) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share
       |FROM agg ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Cross-source overlap matrix: for every ordered source pair
    * (src_a, src_b), the share of src_a's distinct word-8-grams that
    * also occur anywhere in src_b — the redundancy read a mixture
    * designer takes BEFORE fixing per-source sampling weights (two
    * crawls 40% contained in each other should not both get full
    * weight; the C4-vs-RefinedWeb-style overlap analysis). 8-grams
    * (q55's fingerprint length), not bigrams: the synthetic vocabulary
    * is tiny, so short shingles occur in every source and the matrix
    * would saturate at 1.0.
    *
    * Scale: one corpus pass → distinct (source, gram) inverted index
    * (one shuffle keyed on gram); the pair join fans out per gram to at
    * most S² rows where S = |sources| (dozens, never corpus-scale), and
    * the count map-side-combines down to the S·(S−1) matrix. Totals are
    * S rows; zero-overlap pairs come back from the S×S domain cross —
    * q12's zero-fill idiom. Unlike the dedup joins there is NO df cap
    * here: a gram in all S sources is exactly the signal being measured,
    * and its fanout is bounded by S², not by document count. */
  /** The distinct (source, 8-gram) frame as a STANDING ARTIFACT —
    * the corpus-scale pass q122 (exact containment) and q135 (minhash
    * sketch) share. */
  private def srcGrams8(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "src_grams8")(srcGrams8Build(s, dir))

  private def srcGrams8Build(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 8)
      // native gram kernel — see grams8Of
      .select(col("source"), explode(array_distinct(
        expr("graft_grams(t, 8)"))).as("g"))
      .distinct()
      // 60-bit digest join key beside the raw gram: the containment
      // self-join sorts/shuffles 8-byte longs instead of ~50-byte gram
      // strings (q122 measured n·log n on strings at 100×)
      .transform(withGh)

  private val srcGrams8Sql =
    """SELECT source, g, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
      |FROM (SELECT DISTINCT source, g FROM (
      |  SELECT source,
      |         unnest(list_distinct(list_transform(generate_series(0, len(t)-8),
      |                i -> array_to_string(list_slice(t, i+1, i+8), ' ')))) AS g
      |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 8))""".stripMargin

  private def q122(s: SparkSession, dir: String): DataFrame =
    // No persist/settle over the STANDING gram table: Artifacts.frame
    // already materializes it (localCheckpoint blocks), so the old
    // corpus-scale persist + count was a SECOND in-memory copy plus
    // an extra eager job — measured
    // as run-to-run variance at the 100× replica (11–22 s swings; the
    // same block-write jitter the r13-waist gate removed elsewhere).
    // tot and the posting pass each scan the standing blocks once.
    // Artifacts.pinned keeps the pre-artifact persist in the
    // `spark.graft.artifacts=off` mode, where the builder would
    // otherwise run twice.
    Artifacts.pinned(s, srcGrams8(s, dir)) { sg =>
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    // posting-list pair generation instead of the gh self-join (the
    // q84 kernel shape): ONE shuffle keyed on the digest builds the
    // per-gram source list (≤ S elements, S = |sources|), and the
    // ordered pairs explode from a linear HOF — the join shuffled the
    // corpus-scale frame TWICE and fanned out inside the join. The
    // list keeps multiplicity (collect_list, not _set), so under a
    // digest collision the pair count is exactly the join's row-pair
    // count — semantics, and therefore oracle hashes, are unchanged.
    val shared = sg
      .groupBy(col("gh")).agg(collect_list(col("source")).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, a ->
          |  transform(filter(ss, b -> b != a),
          |            b -> struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val domain = tot.select(col("source").as("src_a"), col("n_grams").as("n_a"))
      .crossJoin(tot.select(col("source").as("src_b")))
      .filter(col("src_a") =!= col("src_b"))
    domain.join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("containment", Det.rate(col("n_shared").cast("double") / col("n_a")))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_shared"), col("containment"))
      .orderBy(col("src_a"), col("src_b"))
    }

  private val q122Sql =
    s"""WITH sg AS ($srcGrams8Sql),
       |tot AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
       |shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source <> b.source
       |  GROUP BY 1, 2)
       |SELECT ta.source AS src_a, tb.source AS src_b, CAST(ta.n AS BIGINT) AS n_a,
       |       CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
       |       floor(CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / ta.n * 1e6 + 0.5) / 1e6
       |         AS containment
       |FROM tot ta JOIN tot tb ON ta.source <> tb.source
       |LEFT JOIN shared s ON s.src_a = ta.source AND s.src_b = tb.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Pairwise source-distribution JSD: Jensen-Shannon divergence between
    * every unordered pair of sources' token UNIGRAM distributions — the
    * distributional companion to q122's set-containment matrix. q122
    * answers "does src_a's text literally occur in src_b" (verbatim
    * redundancy); this answers "do they write about the same things in
    * the same proportions" (two news crawls can share zero 8-grams yet
    * be distributionally near-identical — double-weighting them in a
    * mixture still hurts; conversely code vs prose shows JSD near the
    * ln 2 ceiling). The standard corpus-similarity read behind mixture
    * de-duplication (e.g. the Pile's per-component distributional
    * analysis).
    *
    * Exactness: per-source shares quantized to ppm by integer DIV with
    * +1 smoothing (q88/q89's smoothing convention), KL ratios taken to
    * the pair midpoint through q89's shared 6-class milli-nat ladder
    * ([[EventQueries.jsdWeight]] — the SAME quantization, so the two
    * JSD forms cannot disagree), Σ p·w div 2 ≈ JSD × 10⁹, clamped at 0
    * exactly like q89. All-integer arithmetic end to end.
    *
    * Scale: one corpus scan → per-(source, tok) counts (one shuffle,
    * map-side combined); the S-row totals collect to the driver and
    * re-enter as literals, so everything after is ONE groupBy(tok)
    * to a per-token (source → c) map — the smoothed S-vector (q12
    * zero-fill: absent sources get the same 0*10⁶ DIV n + 1 value
    * the old |V|×S domain cross produced) and its ordered pairs are
    * linear HOFs over that map, and the result is S·(S−1)/2 rows. At
    * 100 TB cap the vocabulary (q99's pruning move) before the
    * grouping; the pair matrix is bounded by sources², never by data
    * volume. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val cc = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .persist()
    // Round-14 (guide §2.4, §5): the per-source grand totals are S
    // rows — collect them (the action doubles as the persist settle;
    // it replaces the old count() job) and re-enter the plan as
    // literal arrays. That deletes the vocab `distinct` shuffle, the
    // BroadcastNestedLoopJoin domain cross AND the |V|×S left join
    // the zero-fill used to need: ONE groupBy(tok) collapses cc to a
    // per-token (source → c) map, and the full sorted S-vector of
    // smoothed shares — absent sources get 0*10⁶ DIV n + 1 = 1,
    // exactly the domain-cross value — plus its ordered pairs come
    // from linear HOFs. Integer arithmetic identical op-for-op
    // (`coalesce(c,0)*1000000 DIV n + 1`), so results are
    // bit-identical; the oracle is unchanged.
    // binary (UTF-8 byte) sort, NOT Java String order: the pair
    // orientation below must match UTF8String/DuckDB `a < b`, which
    // compare bytes — Java's UTF-16 code-unit compare diverges on
    // supplementary-plane source labels
    val tot = cc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortWith((a, b) => org.apache.spark.unsafe.types.UTF8String
        .fromString(a._1).compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(b._1)) < 0)
      .toSeq
    val pair = cc.groupBy(col("tok"))
      .agg(map_from_entries(collect_list(struct(col("source"), col("c")))).as("m"))
      .withColumn("srcs", typedlit(tot.map(_._1)))
      .withColumn("ns", typedlit(tot.map(_._2)))
      .withColumn("ps", expr(
        """transform(sequence(1, size(srcs)), i ->
          |  struct(element_at(srcs, i) AS source,
          |         coalesce(element_at(m, element_at(srcs, i)), 0L)
          |           * 1000000L DIV element_at(ns, i) + 1L AS p))""".stripMargin))
      .select(explode(expr(
        """flatten(transform(ps, (a, i) ->
          |  transform(slice(ps, i + 2, size(ps)), b ->
          |    struct(a.source AS src_a, b.source AS src_b,
          |           a.p AS pa, b.p AS pb))))""".stripMargin)).as("pr"))
      .select(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"),
        col("pr.pa").as("pa"), col("pr.pb").as("pb"))
    val den = col("pa") + col("pb")
    pair.groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("pb") * EventQueries.jsdWeight(col("pb") * 2, den) +
        col("pa") * EventQueries.jsdWeight(col("pa") * 2, den)).as("raw"))
      .select(col("src_a"), col("src_b"),
        greatest(expr("raw div 2"), lit(0L)).as("jsd_scaled"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val q132Sql = {
    def w(num: String, den: String) = EventQueries.classWeightSql(num, den, 6, 490L)
    s"""WITH cc AS (
       |  SELECT source, tok, count(*) AS c FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY 1),
       |vocab AS (SELECT DISTINCT tok FROM cc),
       |sh AS (
       |  SELECT t.source, v.tok, COALESCE(cc.c, 0) * 1000000 // t.n + 1 AS p
       |  FROM vocab v CROSS JOIN tot t
       |  LEFT JOIN cc ON cc.source = t.source AND cc.tok = v.tok),
       |s AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         CAST(sum(b.p * ${w("b.p * 2", "a.p + b.p")} +
       |                  a.p * ${w("a.p * 2", "a.p + b.p")}) AS BIGINT) AS raw
       |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, greatest(raw // 2, 0) AS jsd_scaled
       |FROM s ORDER BY src_a, src_b""".stripMargin
  }

  // ---------------------------------------------------------------- q135
  /** MinHash-sketched source similarity — the 100 TB form of q122:
    * the exact containment matrix joins a vocab-scale inverted index
    * against itself, which a mixture designer cannot afford to re-run
    * per crawl snapshot; the production move (dataset-level MinHash,
    * as in source-level dedup audits) keeps ONE 64-slot signature per
    * source — minhash_h = min over the source's distinct 8-grams of
    * md5("h:gram") — and estimates Jaccard(A, B) as the fraction of
    * matching slots. Unbiased, stderr ≈ 1/√64 ≈ 0.125; the sketch is
    * mergeable (min is associative) so snapshots combine for free.
    *
    * Scale: the ONLY corpus-scale work is the distinct-gram pass q122
    * already pays; the 64 minima ride one graft_minhash_hex
    * aggregate ([[srcMinhashSigs]]) — map-side combined, ONE shuffle
    * of 64 slots per source, S×64 rows of state afterwards. The pair
    * compare is an (h, digest) equi-join on that S×64 frame (never
    * vocab-scale), zero-filled from the S×S domain (q12). Estimates
    * are exact integers: match count + 10⁶·matches div 64. */
  private val SrcHashes = 64

  /** The S×64 per-source MinHash signature frame as a STANDING
    * ARTIFACT — the mergeable dataset-level sketch a crawl audit
    * maintains across snapshots; 64 digests per distinct gram is the
    * dominant (linear) term of q135, paid once per dataset.
    *
    * The 64 parallel minima ride ONE native bounded aggregate
    * ([[graft.functions.MinHashHex]], O(64×16 bytes) of state per
    * group, map-side combined): the composed builtin form — 64 hex
    * strings + an array per gram feeding 64 string-min buffer updates
    * — allocated its way to 180–245 s of cold first-touch at the 100×
    * replica, and the digest arithmetic itself is a small fraction of
    * that. Values are pinned byte-identical to the builtin chain (and
    * the oracle's min(md5(h || ':' || g))) by MinHashHexSpec. */
  private def srcMinhashSigs(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "src_minhash_sigs") {
      srcGrams8(s, dir).groupBy(col("source"))
        .agg(expr(s"graft_minhash_hex(g, $SrcHashes)").as("mhx"))
        .select(col("source"), posexplode(col("mhx")).as(Seq("h", "m")))
    }

  private def q135(s: SparkSession, dir: String): DataFrame = {
    val mh = srcMinhashSigs(s, dir)
    val matches = mh.select(col("source").as("src_a"), col("h"), col("m"))
      .join(mh.select(col("source").as("src_b"), col("h"), col("m")),
        Seq("h", "m"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_match"))
    val srcs = mh.select(col("source")).distinct()
    // explicit broadcast: the artifact-backed mh scans carry no stats,
    // so without the hint the |S|-row domain cross degrades to a
    // CartesianProduct (plan-shape-spec-pinned)
    srcs.select(col("source").as("src_a"))
      .crossJoin(broadcast(srcs.select(col("source").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
      .join(matches, Seq("src_a", "src_b"), "left")
      .withColumn("n_match", coalesce(col("n_match"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_match"),
        expr(s"n_match * 1000000L DIV $SrcHashes").as("jaccard_est_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val q135Sql =
    s"""WITH sg AS ($srcGrams8Sql),
       |mh AS (
       |  SELECT source, r.h, min(md5(CAST(r.h AS VARCHAR) || ':' || g)) AS m
       |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${SrcHashes - 1})) AS h) r
       |  GROUP BY 1, 2),
       |mt AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_match
       |  FROM mh a JOIN mh b ON a.h = b.h AND a.m = b.m AND a.source < b.source
       |  GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM sg)
       |SELECT sa.source AS src_a, sb.source AS src_b,
       |       CAST(COALESCE(mt.n_match, 0) AS BIGINT) AS n_match,
       |       CAST(COALESCE(mt.n_match, 0) AS BIGINT) * 1000000 // $SrcHashes
       |         AS jaccard_est_ppm
       |FROM srcs sa JOIN srcs sb ON sa.source < sb.source
       |LEFT JOIN mt ON mt.src_a = sa.source AND mt.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Memorization / novelty audit — q55 transposed (the GPT-2/3
    * appendix train-test overlap check): for each HELD-OUT doc
    * (doc_id % 50 = 0, q55's benchmark split, standing in for model
    * samples), the share of its distinct 8-grams that occur NOWHERE in
    * the training split. Low novelty = the "sample" is regurgitated
    * training text.
    *
    * Scale shape is the OPPOSITE of q55's, which is why both exist:
    * there the tiny benchmark fingerprint set broadcast into the
    * corpus-scale training side; here the training index is the 100 TB
    * side and must never shuffle — the held-out gram set broadcasts
    * INTO the one training scan, the surviving (doc, gram) hits are
    * de-duplicated AFTER that join (bounded by |held grams|, not by
    * train size), and only that small hit frame aggregates. No distinct
    * over the training grams anywhere. Both sides read the
    * [[docGrams8Frame]] standing artifact (shared with q55). */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val g = docGrams8Frame(s, dir)
    val held = g.filter(col("doc_id") % 50 === 0)
    val hits = g.filter(col("doc_id") % 50 =!= 0).select(col("gh"))
      .join(broadcast(held), Seq("gh"))
      .select(col("doc_id"), col("gh")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    held.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      // hits is bounded by |held docs| — broadcast, so the per-doc merge
      // never shuffles (and the pin can hold the initial plan to it too)
      .join(broadcast(hits), Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("novelty",
        Det.rate(lit(1.0) - col("n_hit").cast("double") / col("n_grams")))
      .withColumn("regurgitated", col("novelty") < 0.5)
      .select(col("doc_id"), col("n_grams"), col("n_hit"), col("novelty"),
        col("regurgitated"))
      .orderBy(col("doc_id"))
  }

  private val q124Sql =
    s"""WITH g AS ($docGrams8Sql),
       |held AS (SELECT doc_id, gh FROM g WHERE doc_id % 50 = 0),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_hit FROM (
       |    SELECT DISTINCT h.doc_id, h.gh
       |    FROM held h JOIN g t ON t.gh = h.gh AND t.doc_id % 50 <> 0)
       |  GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM held GROUP BY doc_id)
       |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
       |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       floor((1.0 - CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams) * 1e6 + 0.5) / 1e6
       |         AS novelty,
       |       floor((1.0 - CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams) * 1e6 + 0.5) / 1e6
       |         < 0.5 AS regurgitated
       |FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // --------------------------------------------------------------- q131
  /** Corpus datasheet — the dataset-card rollup (Gebru et al.,
    * "Datasheets for Datasets"; the summary block every released
    * training corpus ships): one row of corpus-level facts drawn from
    * three frames — a single stats scan (doc/token/char counts,
    * source/lang cardinalities, exact-dup docs via n_docs −
    * |distinct md5|), the vocabulary aggregate, and the near-dup pair
    * count from the q26 kernel. Counts are exact BIGINTs;
    * mean_doc_tokens is one rounded division.
    *
    * Scale: the stats scan is ONE corpus pass with map-side-combined
    * aggregates (two exact distincts — md5 digests and the two
    * low-cardinality dims); vocab is the |V|-scale token aggregate;
    * the near-dup count rides the df-capped posting index. The three
    * 1-row frames cross-join by broadcast. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("exact_dup_docs"))
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    val nd = jaccardPairsOf(s, dir).agg(count(lit(1)).as("neardup_pairs"))
    stats.crossJoin(broadcast(vocab)).crossJoin(broadcast(nd))
      .withColumn("mean_doc_tokens",
        Det.rate(col("n_tokens").cast("double") / col("n_docs")))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"), col("n_sources"),
        col("n_langs"), col("vocab_size"), col("exact_dup_docs"),
        col("neardup_pairs"), col("mean_doc_tokens"))
  }

  private def jaccardPairsOf(s: SparkSession, dir: String): DataFrame =
    DedupQueries.jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))

  private val q131Sql =
    s"""WITH sh AS (${DedupQueries.shinglesSql}),
       |rare AS MATERIALIZED (SELECT s FROM sh GROUP BY s HAVING count(*) <= 25),
       |rs AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
       |  FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |nd AS (
       |  SELECT CAST(count(*) AS BIGINT) AS neardup_pairs FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE floor((CAST(icnt AS DOUBLE) / (za.n + zb.n - icnt)) * 1e6 + 0.5) / 1e6 >= 0.3
       |),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |         CAST(sum(len(text)) AS BIGINT) AS n_chars,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |         CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs
       |  FROM documents
       |),
       |vb AS (
       |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |)
       |SELECT st.n_docs, st.n_tokens, st.n_chars, st.n_sources, st.n_langs,
       |       vb.vocab_size, st.exact_dup_docs, nd.neardup_pairs,
       |       floor(CAST(st.n_tokens AS DOUBLE) / st.n_docs * 1e6 + 0.5) / 1e6
       |         AS mean_doc_tokens
       |FROM st CROSS JOIN vb CROSS JOIN nd""".stripMargin

  // --------------------------------------------------------------- q159
  /** Incremental cluster-map maintenance — the daily-ingest shape that
    * completes q84: q84 answers "which NEW docs duplicate the corpus";
    * this produces the UPDATED full cluster map without re-running
    * connected components over corpus×corpus edges. The standing
    * inputs are the prior clustering of the existing corpus
    * (`prior_cluster_map` artifact — corpus docs over corpus-only
    * edges) and the near-dup edge set; the increment (doc_id % 10 = 0
    * plays the batch, q84's convention, with the df universe the full
    * standing posting index exactly as there):
    *
    *  1. delta = batch-involving edges only (batch×corpus ∪
    *     batch×batch) — never corpus×corpus;
    *  2. CONTRACT each delta endpoint to its representative (corpus
    *     doc → prior component label, batch doc → itself): paths
    *     through the old corpus collapse into their label nodes, so
    *     reachability in the full graph is preserved on a graph of
    *     DELTA size;
    *  3. run CC on the contracted graph (tiny — |delta| edges);
    *  4. relabel: a merged group's label is the min over its member
    *     labels, and prior labels are min-doc-ids of their parts, so
    *     the final label is EXACTLY the full recompute's min
    *     reachable doc_id — the oracle recomputes everything from
    *     scratch and the hash compare proves incremental ≡ full.
    *
    * Output: q54's grain over ALL docs + the increment audit columns —
    * origin (batch/corpus) and prior_component (−1 for batch docs); a
    * corpus doc whose component_id ≠ prior_component was MERGED by
    * today's batch, the operational readout of an ingest.
    *
    * Scale: the prior map and edge set are standing artifacts
    * ([[Artifacts]]; warehouse tables in production); per ingest the
    * work is one batch-involving pair filter, two label joins, and a
    * CC loop over a delta-sized contracted graph. Corpus size enters
    * only through the (already standing) inputs — this is what makes
    * daily dedup O(batch), not O(corpus). */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    val isBatch = (c: org.apache.spark.sql.Column) => c % 10 === 0
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val pairs = DedupQueries.jaccardPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    // standing input: the corpus clustering BEFORE the batch arrived
    val prior = Artifacts.frame(s, dir, "prior_cluster_map")(
      clustersFrom(s,
          docs.filter(!isBatch(col("doc_id"))).select(col("doc_id").as("id")),
          pairs.filter(!isBatch(col("doc_a")) && !isBatch(col("doc_b"))))
        .select(col("doc_id"), col("component_id").as("pcomp")))
    // the increment: batch-involving edges, endpoints contracted to
    // their representatives
    val delta = pairs
      .filter(isBatch(col("doc_a")) || isBatch(col("doc_b")))
      .join(prior.select(col("doc_id").as("doc_a"), col("pcomp").as("ra")),
        Seq("doc_a"), "left")
      .join(prior.select(col("doc_id").as("doc_b"), col("pcomp").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("src"),
        coalesce(col("rb"), col("doc_b")).as("dst"))
    val touched = delta.select(col("src").as("id"))
      .union(delta.select(col("dst").as("id"))).distinct()
    val merged = ConnectedComponents.auto(touched, delta)
      .select(col("id"), col("component"))
    val batchSide = docs.filter(isBatch(col("doc_id")))
      .join(merged.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component_id"),
        lit("batch").as("origin"), lit(-1L).as("prior_component"))
    val corpusSide = prior
      .join(merged.withColumnRenamed("id", "pcomp"), Seq("pcomp"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("pcomp")).as("component_id"),
        lit("corpus").as("origin"), col("pcomp").as("prior_component"))
    batchSide.unionByName(corpusSide)
      .select(col("doc_id"), col("component_id"),
        count(lit(1)).over(Window.partitionBy(col("component_id"))).as("csize"),
        (col("doc_id") === col("component_id")).as("is_canonical"),
        col("origin"), col("prior_component"))
      .orderBy(col("doc_id"))
  }

  private val q159Sql =
    s"""$ccPrefix,
       |pedges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0
       |),
       |preach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
       |  UNION
       |  SELECT e.dst, r.lbl FROM preach r JOIN pedges e ON e.src = r.doc_id
       |),
       |prior AS MATERIALIZED (
       |  SELECT doc_id, min(lbl) AS pcomp FROM preach GROUP BY doc_id
       |),
       |cs AS (SELECT component_id, count(*) AS csize FROM comp GROUP BY component_id)
       |SELECT c.doc_id, c.component_id, cs.csize,
       |       (c.doc_id = c.component_id) AS is_canonical,
       |       CASE WHEN c.doc_id % 10 = 0 THEN 'batch' ELSE 'corpus' END AS origin,
       |       CAST(COALESCE(p.pcomp, -1) AS BIGINT) AS prior_component
       |FROM comp c
       |JOIN cs ON cs.component_id = c.component_id
       |LEFT JOIN prior p ON p.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q54_cc_dedup_clusters", Some(q54Sql), q54),
    QuerySpec("q97_cluster_canonical", Some(q97Sql), q97),
    QuerySpec("q150_quality_survivor", Some(q150Sql), q150),
    QuerySpec("q109_leakage_safe_splits", Some(q109Sql), q109),
    QuerySpec("q55_decontamination", Some(q55Sql), q55),
    QuerySpec("q56_repetition_quality", Some(q56Sql), q56),
    QuerySpec("q57_stratified_sample", Some(q57Sql), q57),
    QuerySpec("q58_quantized_ann", Some(q58Sql), q58),
    QuerySpec("q59_bm25_scoring", Some(q59Sql), q59),
    QuerySpec("q60_incremental_merge", Some(q60Sql), q60),
    QuerySpec("q70_curation_funnel", Some(q70Sql), q70),
    QuerySpec("q122_source_overlap", Some(q122Sql), q122),
    QuerySpec("q124_ngram_novelty", Some(q124Sql), q124),
    QuerySpec("q128_cluster_sizes", Some(q128Sql), q128),
    QuerySpec("q131_datasheet", Some(q131Sql), q131),
    QuerySpec("q132_source_jsd", Some(q132Sql), q132, aqe = false),
    QuerySpec("q135_source_minhash", Some(q135Sql), q135),
    QuerySpec("q142_softdedup_weights", Some(q142Sql), q142),
    QuerySpec("q159_incremental_clusters", Some(q159Sql), q159),
    QuerySpec("q174_transitivity_audit", Some(q174Sql), q174),
  )
}
