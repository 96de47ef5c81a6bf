package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style ANN (the coarse-quantizer scale path beside q29's
  * hyperplane LSH): k-means cells + nprobe search.
  *
  * Index build = 2 fixed Lloyd iterations, fully relational:
  *  - seed centroids: the K vectors with smallest md5(vec_id) —
  *    deterministic, engine-independent "random" init
  *  - assign: vectors × broadcast(centroids) → argmax cosine (window)
  *  - update: posexplode to (cell, dim, x) → avg → rebuild arrays;
  *    components rounded to 1e-6 so double-sum partition order can't
  *    drift cell boundaries between runs
  *
  * Search: queries probe the nprobe nearest cells, then scan ONLY those
  * cells via an equi-join on cell id — at 100 TB the candidate set per
  * query is |table|·nprobe/K instead of |table|, and the join is a hash
  * shuffle on cell, never a cross join.
  */
object IvfQueries {

  private val MinK = 16
  /** Cell count ≈ √N/4 — the FAISS coarse-quantizer guideline: it
    * balances the N·K assignment cost against the N²/K within-cell
    * work (SemDeDup q72, cell-local kNN q157), putting BOTH at ~N^1.5
    * instead of leaving within-cell pairs quadratic (measured: the
    * fixed-16-cell index put q72 at 328 s and q157 at 506 s on the
    * 100× replica; √N cells is the documented fix). The floor keeps
    * every driver test scale (≤ 4096 vectors) on the historical
    * 16-cell index; the oracle computes the same rule in a CTE. */
  private[operators] def kFor(n: Long): Int =
    math.max(MinK, math.ceil(math.sqrt(n.toDouble) / 4.0).toInt)
  private val Iterations = 2
  private val NProbe = 4
  private val TopK = 3

  private def normed(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))

  /** argmax-cosine cell assignment against a broadcast centroid table
    * (cell, cv, cnrm). The similarity is rounded to 1e-6 BEFORE the
    * argmax (ties then break on cell id) so a last-ulp float difference
    * can never flip an assignment between engines/runs. */
  private def assign(s: SparkSession, vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .withColumn("sim", Det.rate(VectorMath.cosine("v", "cv", col("nrm"), col("cnrm"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))

  /** Everything the final assignment pass yields: assignments,
    * centroids, and the per-vector top-2 margin frame — the N·K
    * cosine scoring runs ONCE and all three views share it (`scored`
    * is the persisted rk ≤ 2 frame both derive from; callers unpersist
    * it once the artifact writes land). */
  private[operators] case class BuiltIndex(
      assigned: DataFrame, centroids: DataFrame,
      margins: DataFrame, scored: DataFrame, vectors: DataFrame) {
    /** Retire the build's internal caches — the rk ≤ 2 scoring frame
      * and the normed input vectors (both corpus-scale, both holding
      * full vectors). Call once every returned view is materialized. */
    def release(): Unit = { scored.unpersist(); vectors.unpersist() }
  }

  /** Build assignments + centroids + the top-2 margin frame in ONE
    * final scoring pass (the r12 verdict's "one scan, two writes":
    * q123's silhouette needs exactly a_sim = the argmax similarity and
    * b_sim = the runner-up, both of which the assignment window already
    * ranks — re-deriving them cost a second N·K cosine pass per cold
    * session). */
  private[operators] def buildIndexFull(s: SparkSession, dir: String): BuiltIndex = {
    // SCALE-GATED spread of the normed vectors to core width BEFORE
    // caching (round 15, guide §2.5; the Tables.spread idiom the PQ
    // trainer already uses, behind the Det.waist byte gate): the
    // embeddings parquet arrives in file-split partitions (13 splits
    // at the 100× replica, ONE at sf0.1), and every N·K scoring pass —
    // the crossJoin × cosine map side of assign/scored, the dominant
    // build cost — inherited that width, leaving 19 of 32 cores idle
    // (event log: three 30–53 s 13-task stages; build 135.9 → 59.1 s
    // once spread). One cheap exchange of the (id, vec, nrm) rows buys
    // full-width scoring; hash-on-vec_id keeps partition CONTENT
    // deterministic, and the 1e-6 pre-rounding discipline already
    // makes centroid sums partition-order-proof. Below the gate the
    // exchange (and the 32 near-empty result partitions every
    // artifact consumer would then rescan) is pure scheduling floor,
    // so small inputs keep the file-split width.
    val raw = normed(s, dir)
    val vectors =
      (if (Scale.big(s, dir)) Tables.spread(raw, col("vec_id")) else raw).persist()
    // Seed cells are assigned on the driver from the collected K-row
    // TakeOrdered result (order already total: md5 value, then vec_id) —
    // a global row_number window over the 16 seeds would be correct but
    // logs a scary 'No Partition Defined for Window' warning on every
    // run. K rows on the driver is the k-means-init idiom, not a
    // driver-side data path.
    // the count also materializes the persisted vectors for the seeds
    val k = kFor(vectors.count())
    val seedRows = vectors
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("v"), col("nrm"))
      .collect()
    var centroids = s.createDataFrame(
      s.sparkContext.parallelize(seedRows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.getSeq[Double](0), r.getDouble(1))
      }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType, false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), false),
        org.apache.spark.sql.types.StructField("cnrm", org.apache.spark.sql.types.DoubleType, false))))
      .persist()
    for (_ <- 1 to Iterations) {
      val assigned = assign(s, vectors, centroids)
      val updated = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(Det.rate(avg(col("x"))).as("cx"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
        .select(col("cell"), expr("transform(pc, p -> p.cx)").as("cv"))
      // superseded per-iteration centroid caches are K-row frames;
      // session hygiene is Verify/Bench clearCache between queries —
      // an eager materialize-count + unpersist per iteration was
      // measured as 2 extra jobs (~0.3 s) for kilobytes of cache
      centroids = updated
        .withColumn("cnrm", VectorMath.norm("cv"))
        .persist()
    }
    // vectors stay cached for the final assign (the caller's first
    // action materializes it); the per-query session hygiene is
    // Verify/Bench clearCache — only the per-ITERATION caches, which
    // would stack inside a single buildIndexFull, are retired eagerly above.
    // The final pass keeps rk ≤ 2 (not rk = 1): the runner-up row is
    // free here and IS q123's separation term — per vector,
    // a_sim = rk1.sim (the argmax the assignment is defined by) and
    // b_sim = rk2.sim (all K cells are distinct, so the best
    // other-cell similarity is exactly the second-ranked row; on ties
    // both equal the tied value, same as max-over-others).
    val scored = vectors.crossJoin(broadcast(centroids))
      .withColumn("sim", Det.rate(VectorMath.cosine("v", "cv", col("nrm"), col("cnrm"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell"))))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("sim"), col("rk"))
      .persist()
    val assigned = scored.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    // groupBy(vec_id) lands on the window's own hash partitioning —
    // no second exchange (AQE reuses the child distribution)
    val margins = scored.groupBy(col("vec_id"))
      .agg(max(when(col("rk") === 1, col("cell"))).as("cell"),
        max(when(col("rk") === 1, col("sim"))).as("a_sim"),
        max(when(col("rk") === 2, col("sim"))).as("b_sim"))
      .select(col("vec_id"), col("cell"), col("a_sim"), col("b_sim"))
    BuiltIndex(assigned, centroids, margins, scored, vectors)
  }

  /** The built index as a STANDING ARTIFACT ([[Artifacts]]): k-means
    * is corpus state — q39/q42/q72/q123/q157 (+ the coreset/noise
    * family) all search the SAME index, and each re-running the full
    * Lloyd-iteration build per query was ~0.5 s of identical work.
    * Assignments are a corpus-sized frame artifact (checkpointed);
    * centroids collapse to a K-row LocalRelation, so a warm session
    * never re-trains. */
  private[operators] def index(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = indexFull(s, dir)
    (p.assigned, p.centroids)
  }

  /** The three standing pieces as served to consumers (assignments
    * already decoded back to `array<double>`). */
  private[operators] case class IvfParts(
      assigned: DataFrame, centroids: DataFrame, margins: DataFrame)

  private[operators] def indexFull(s: SparkSession, dir: String): IvfParts =
    Artifacts.value(s, dir, "ivf_index") {
      // one buildIndexFull serves all pieces; it runs only for a piece
      // not yet memoized
      var built: Option[BuiltIndex] = None
      def build: BuiltIndex = built.getOrElse {
        val b = buildIndexFull(s, dir); built = Some(b); b
      }
      // NOTE: vectors stay array<double> in the artifact. A float-packed
      // v2 was measured and REVERTED: the unpack transform re-ran per
      // JOINED PAIR in q72's self-join (2.9 G evaluations at 100×),
      // and even cached it lost to the parquet double path — warm
      // floor 9.6 s (double) vs 14.7-19.0 s (float variants).
      val a = Artifacts.frame(s, dir, "ivf_assigned")(build.assigned)
      val c = Artifacts.localFrame(s, dir, "ivf_centroids")(build.centroids)
      val m = Artifacts.frame(s, dir, "ivf_margins")(build.margins)
      built.foreach { b => b.release(); b.centroids.unpersist() }
      IvfParts(a, c, m)
    }

  /** q42: nprobe ANN search for the sampled query set. */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centroids) = index(s, dir)
    // no eager materialization here (unlike q25/q54): the k-means chain
    // is serialized by the centroid BROADCAST stage, which materializes
    // once before either consumer of `assigned` scans — an extra
    // count() measured +0.35 s for nothing
    val queries = assigned.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(SimilarityQueries.EvalPanelCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // probe the nprobe nearest cells per query
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("csim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cnrm"))))
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cell"))))
      .filter(col("prk") <= NProbe)
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
    // equi-join on cell: scan only probed cells
    probes.join(
        assigned.select(col("vec_id").as("cid"), col("v").as("cv2"), col("nrm").as("cn"), col("cell")),
        Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv2", col("qn"), col("cn"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))).cast("long"))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("rn"), col("cid"), col("sim"), col("cell").cast("long").as("cell"))
      .orderBy(col("qid"), col("rn"))
  }

  private val Dims = 64
  private def rnd(e: String) = s"floor(($e) * 1e6 + 0.5) / 1e6"
  private[operators] def sim(v: String, n: String, cv: String, cn: String) =
    rnd(VectorMath.cosineSql(v, cv, n, cn))

  // argmax-cosine assignment of nv rows against centroid CTE `cent`
  private def assignCte(name: String, cent: String) =
    s"""$name AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT nv.vec_id, nv.v, nv.nrm, c.cell,
       |           row_number() OVER (PARTITION BY nv.vec_id
       |             ORDER BY ${sim("nv.v", "nv.nrm", "c.cv", "c.cnrm")} DESC, c.cell) AS rk
       |    FROM nv CROSS JOIN $cent c
       |  ) t WHERE rk = 1
       |)""".stripMargin

  // per-dimension mean of the assigned vectors → new centroids
  private def updateCte(asg: String, dims: String, cent: String) =
    s"""$dims AS (
       |  SELECT cell, i, ${rnd(s"avg(v[i])")} AS cx
       |  FROM $asg CROSS JOIN (SELECT unnest(generate_series(1, $Dims)) AS i)
       |  GROUP BY cell, i
       |), $cent AS (
       |  SELECT cell, list(cx ORDER BY i) AS cv,
       |         sqrt(list_dot_product(list(cx ORDER BY i), list(cx ORDER BY i))) AS cnrm
       |  FROM $dims GROUP BY cell
       |)""".stripMargin

  /** Shared oracle prefix: seed + both Lloyd iterations → final
    * assignments CTE `asgf`. Replicates buildIndexFull exactly; soundness
    * rests on the same pre-rounding discipline as the Spark side —
    * centroid components and every similarity used for ranking are
    * rounded to 1e-6 before comparison, so assignments cannot diverge
    * on float noise. */
  private[operators] lazy val ivfPrefixSql: String =
    s"""WITH nv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), kc AS (
       |  SELECT greatest($MinK, CAST(ceil(sqrt(count(*)) / 4.0) AS BIGINT)) AS k FROM nv
       |), seed AS (
       |  SELECT cell, cv, cnrm FROM (
       |    SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1 AS cell,
       |           v AS cv, nrm AS cnrm
       |    FROM nv
       |  ) t CROSS JOIN kc WHERE cell < k
       |),
       |${assignCte("asg1", "seed")},
       |${updateCte("asg1", "up1", "cent1")},
       |${assignCte("asg2", "cent1")},
       |${updateCte("asg2", "up2", "cent2")},
       |${assignCte("asgf", "cent2")}""".stripMargin

  /** Full oracle for the IVF search: index build + probe + search. */
  private val q42Sql: String = {
    s"""$ivfPrefixSql,
       |probes AS (
       |  SELECT qid, qv, qn, cell FROM (
       |    SELECT q.vec_id AS qid, q.v AS qv, q.nrm AS qn, c.cell,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${sim("q.v", "q.nrm", "c.cv", "c.cnrm")} DESC, c.cell) AS prk
       |    FROM (SELECT * FROM nv WHERE vec_id % 50 = 0
       |          ORDER BY vec_id LIMIT 8) q CROSS JOIN cent2 c
       |  ) t WHERE prk <= $NProbe
       |),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS cid, p.cell,
       |         ${sim("p.qv", "p.qn", "a.v", "a.nrm")} AS sim
       |  FROM probes p JOIN asgf a ON a.cell = p.cell AND a.vec_id <> p.qid
       |),
       |r AS (
       |  SELECT qid, cid, sim, cell,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM cand
       |)
       |SELECT qid, rn, cid, sim, CAST(cell AS BIGINT) AS cell
       |FROM r WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin
  }

  // ---------------------------------------------------------------- q72
  /** SemDeDup-style semantic dedup (Abbas et al. 2023): embedding-level
    * near-duplicates found WITHIN k-means cells only — the cluster
    * assignment bounds the quadratic exactly like SemDeDup's k-means
    * prefilter (within-cell pairs are N²/K per cell vs N² all-pairs;
    * at 100 TB, K scales with N so cells stay bounded). Reuses q42's
    * index build verbatim. For every vector with a lower-id cell-mate
    * at cosine ≥ τ, emit the drop decision: its canonical
    * representative (lowest-id such partner), that pair's similarity,
    * and how many near-dup partners it had. `filter(!dropped)` is the
    * SemDeDup retention step.
    *
    * The within-cell pair join is cell-equi (hash shuffle on cell,
    * never a cross join); both sides scan the persisted assignments,
    * with an ordered materialization first (concurrent-scan cache
    * race, same as q25/q63). */
  private val DedupTau = 0.4

  private def q72(s: SparkSession, dir: String): DataFrame = {
    val assigned = index(s, dir)._1
    // (round 15) the old `assigned.count()` race guard predates the
    // artifact layer: ivf_assigned is now EAGERLY materialized at
    // build (localCheckpoint(true)), so the self-join scans read
    // standing blocks and the count was one full N-row scan job per
    // execution for nothing
    // FUSED PAIR KERNEL (round 15, second pass — guide §2.3/§2.4; the
    // q157 graft_cell_knn rationale verbatim): the within-cell
    // self-join form shuffled the member set twice and assembled a
    // ~1 KB two-vector row per pair before the cosine, then paid a
    // THIRD exchange for the per-member groupBy. graft_cell_dups
    // collects each cell's members once and runs the identical i<j
    // µ-rounded-cosine loop over flat primitive arrays, folding the
    // sim >= tau ∧ groupBy(vec_b) rollup (min rep, min_by sim, count)
    // into O(1) per-member state — ascending-id scan order makes
    // "first qualifying partner" exactly min(vec_a)/min_by(sim, vec_a).
    // Emitted rows are bit-identical (CellPairsSpec pins kernel ==
    // join form). Fallback-threshold note: see q157's QuerySpec.
    assigned
      .groupBy(col("cell"))
      .agg(expr(s"graft_cell_dups(vec_id, v, nrm, CAST($DedupTau AS DOUBLE))").as("ds"))
      .select(col("cell"), explode(col("ds")).as("d"))
      .select(col("d.vec_id").as("vec_id"), col("d.rep_id").as("rep_id"),
        col("d.rep_sim").as("rep_sim"), col("d.n_sim").as("n_sim"),
        col("cell").cast("long").as("cell"))
      // checkpoint the (small) aggregate before the global sort: the
      // range partitioner SAMPLES its child, and here that child was
      // the whole ~N²/K pair join — the event log showed two
      // back-to-back 14 s jobs (sample + real) at the 100× replica.
      // Blocks truncate the lineage so the sort's sample pass reads
      // the materialized rows instead of re-running the join.
      .localCheckpoint()
      .orderBy(col("vec_id"))
  }

  private val q72Sql: String =
    s"""$ivfPrefixSql,
       |p AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
       |         ${sim("a.v", "a.nrm", "b.v", "b.nrm")} AS sim
       |  FROM asgf a JOIN asgf b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)
       |SELECT vec_id, min(vec_a) AS rep_id, min_by(sim, vec_a) AS rep_sim,
       |       CAST(count(*) AS BIGINT) AS n_sim, CAST(cell AS BIGINT) AS cell
       |FROM (SELECT vec_b AS vec_id, vec_a, sim, cell FROM p WHERE sim >= $DedupTau)
       |GROUP BY vec_id, cell ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Cluster-quality audit of the IVF index (centroid silhouette): per
    * vector, cohesion a = cosine to its OWN centroid and separation
    * b = best cosine to any OTHER centroid. margin = a − b ≥ 0 by
    * construction (the assignment IS the argmax), and a small margin
    * marks a boundary vector whose cell membership is one re-train away
    * from flipping — the per-cell boundary fraction is the read that
    * decides whether K fits the corpus BEFORE trusting q42/q98 recall
    * or q72's within-cell dedup to be stable.
    *
    * Scale: the N·K cosine scoring is NOT re-run here — the index
    * build's final assignment window already ranks every (vector,
    * centroid) pair, and `ivf_margins` keeps its rk1/rk2 similarities
    * as a standing N-row frame (buildIndexFull: one scan, two writes).
    * This query is one linear scan of that frame plus a ≤K-group
    * aggregate; no vector-vector pairs anywhere (classic silhouette's
    * N² is exactly what the centroid form avoids), and the N^1.5
    * assignment cost lives in the index build, paid once per corpus. */
  private val BoundaryMargin = 0.05

  private def q123(s: SparkSession, dir: String): DataFrame = {
    // a_sim/b_sim come from the standing `ivf_margins` frame — the
    // final assignment window already ranked every (vector, centroid)
    // similarity, so the silhouette terms are rk1/rk2 of that pass
    // (see buildIndexFull); re-deriving them here was a second N·K
    // cosine pass per session (r12 verdict cold item: 81 s on the
    // 100× replica's first toucher). One N-row scan remains.
    indexFull(s, dir).margins
      // per-row µ-unit BIGINTs from the already-µ-rounded doubles: the
      // float value sits within ~1e-13 of its k/1e6 target, so the
      // +0.5 floor re-reads k exactly in both engines — and the cell
      // means become order-immune integer sums. A double avg() here
      // was the repo's one remaining float-summation mean; it landed
      // on a half-ulp boundary in an r7 selfcheck (1-µ diff on one
      // cell) — the same reason every other mean in the repo is
      // sum-DIV-count on integers.
      .withColumn("a_u", expr("CAST(floor(a_sim * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("margin_u",
        expr("CAST(floor((a_sim - b_sim) * 1e6 + 0.5) AS BIGINT)"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("a_u")).as("sum_a"), sum(col("margin_u")).as("sum_m"),
        sum(when(col("margin_u") < (BoundaryMargin * 1e6).toLong, 1L)
          .otherwise(0L)).as("n_boundary"))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        expr("sum_a DIV n_vecs").as("mean_cohesion_uu"),
        expr("sum_m DIV n_vecs").as("mean_margin_uu"), col("n_boundary"))
      .orderBy(col("cell"))
  }

  private val q123Sql =
    s"""$ivfPrefixSql,
       |sims AS (
       |  SELECT a.vec_id, a.cell, c.cell AS ccell,
       |         ${sim("a.v", "a.nrm", "c.cv", "c.cnrm")} AS sim
       |  FROM asgf a CROSS JOIN cent2 c
       |),
       |pm AS (
       |  SELECT vec_id, cell,
       |         max(CASE WHEN ccell = cell THEN sim END) AS a_sim,
       |         max(CASE WHEN ccell <> cell THEN sim END) AS b_sim
       |  FROM sims GROUP BY vec_id, cell
       |),
       |pm2 AS (
       |  SELECT vec_id, cell,
       |         CAST(floor(a_sim * 1e6 + 0.5) AS BIGINT) AS a_u,
       |         CAST(floor((a_sim - b_sim) * 1e6 + 0.5) AS BIGINT) AS margin_u
       |  FROM pm
       |)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(sum(a_u) AS BIGINT) // count(*) AS mean_cohesion_uu,
       |       CAST(sum(margin_u) AS BIGINT) // count(*) AS mean_margin_uu,
       |       CAST(sum(CASE WHEN margin_u < ${(BoundaryMargin * 1e6).toLong}
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
       |FROM pm2 GROUP BY cell ORDER BY cell""".stripMargin

  // --------------------------------------------------------------- q157
  /** Label-noise audit via cell-local kNN voting (Northcutt et al.
    * 2021, "Confident Learning" — the data-centric step that finds
    * MISLABELED examples before they poison a classifier): every
    * vector's label is cross-examined against the majority label of
    * its k nearest neighbors, and the zero-filled label×voted
    * confusion matrix localizes the noise (off-diagonal mass = which
    * classes bleed into which — cleanlab's joint estimate in its
    * simplest kNN form). q79 votes a sampled query panel against the
    * WHOLE corpus (the brute-force validation shape); this audits
    * EVERY vector by restricting neighbors to the vector's own q42
    * k-means cell — SemDeDup's within-cell bound (q72) applied to
    * label QA, which is what makes full coverage affordable.
    *
    * Vote: top-[[NoiseVoteK]] same-cell neighbors by rounded cosine
    * (sim DESC, vec_id tiebreak), majority with (votes DESC, label)
    * tiebreak — total orders everywhere, both engines pick identical
    * winners. Singleton-cell vectors have no neighbors and drop from
    * the vote (the spec ties out voted ≤ total).
    *
    * Scale: the pair generation is the within-cell equi-join (N²/K
    * per cell, never all-pairs); votes aggregate per vector; the
    * confusion rollup is |labels|² rows with q12's zero-fill. */
  private val NoiseVoteK = 10

  /** Packing width for (sim, bid) → one BIGINT: 21 high bits carry the
    * µ-rounded similarity shifted to [0, 2·10⁶], 42 low bits carry the
    * bit-complemented neighbor id, so `packed DESC` == `(sim DESC,
    * bid ASC)` as one integer comparison. Ids must stay < 2⁴² (≈4.4
    * · 10¹²; the 100× replica tops out at ~10⁹). Single source of
    * truth is the kernel that does the packing. */
  private val PackBits = graft.functions.CellPairs.PackBits

  private def q157(s: SparkSession, dir: String): DataFrame = {
    val (assigned, _) = index(s, dir)
    val lab = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    // Neither pair side carries a label: only the packed (sim, id)
    // survives the top-k selection, and BOTH labels join back on the
    // ≤ 10·N winners (this also drops the old N-scale pre-join that
    // attached a_label to every a-side row).
    //
    // FUSED PAIR KERNEL (round 15, second pass — guide §2.3/§2.4):
    // the within-cell self-join form (join aid < bid → cosine →
    // 2-row explode → graft_topk) assembled, PER PAIR, a joined row
    // carrying BOTH 64-double vectors (~1 KB of UnsafeRow copy),
    // generated two explode rows, and touched the object-hash top-k
    // map twice — ~N²/K rows of machinery around the same count of
    // 64-double dot products of actual work, with the member set
    // shuffled TWICE (a side + b side). graft_cell_knn collects each
    // cell's (id, v, nrm) members once (ONE exchange of N rows,
    // map-side partial buffers concatenate) and runs the identical
    // i<j µ-rounded-cosine + both-directions top-k loop over flat
    // primitive arrays — the pair stream never exists as rows. The
    // emitted (id, pk) multiset is bit-identical (CellPairsSpec pins
    // kernel == join form; cosine/rounding/packing are replayed
    // literally — see CellPairs). The object-agg fallback threshold
    // must exceed cells-per-task (QuerySpec.confs below), same rule
    // as the graft_topk form it replaces.
    val mask = (1L << PackBits) - 1
    val winners = assigned
      .groupBy(col("cell"))
      .agg(expr(s"graft_cell_knn(vec_id, v, nrm, $NoiseVoteK)").as("prs"))
      .select(explode(col("prs")).as("e"))
      .select(col("e.id").as("aid"),
        (lit(mask) - (col("e.pk") % lit(1L << PackBits))).as("bid"))
      .join(lab.select(col("vec_id").as("aid"), col("label").as("a_label")),
        Seq("aid"))
      .join(lab.select(col("vec_id").as("bid"), col("label").as("b_label")),
        Seq("bid"))
      .groupBy(col("aid"), col("a_label"), col("b_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("aid")).orderBy(col("votes").desc, col("b_label"))))
      .filter(col("vr") === 1)
      .select(col("a_label").as("label"), col("b_label").as("voted"))
    val labels = lab.select(col("label")).distinct()
    val domain = labels
      .crossJoin(broadcast(labels.select(col("label").as("voted"))))
    val conf = winners.groupBy(col("label"), col("voted")).agg(count(lit(1)).as("n"))
    domain.join(conf, Seq("label", "voted"), "left").na.fill(0L, Seq("n"))
      .withColumn("row_total", sum(col("n")).over(Window.partitionBy(col("label"))))
      .withColumn("share_ppm", when(col("row_total") === 0, 0L)
        .otherwise(expr("(n * 1000000) DIV row_total")))
      .select(col("label"), col("voted"), col("n"), col("share_ppm"))
      .orderBy(col("label"), col("voted"))
  }

  private val q157Sql =
    s"""$ivfPrefixSql,
       |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |prs AS (
       |  SELECT a.vec_id AS aid, la.label AS a_label, lb2.label AS b_label,
       |         row_number() OVER (PARTITION BY a.vec_id
       |           ORDER BY ${sim("a.v", "a.nrm", "b.v", "b.nrm")} DESC, b.vec_id)
       |           AS rn
       |  FROM asgf a
       |  JOIN asgf b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  JOIN lb la ON la.vec_id = a.vec_id
       |  JOIN lb lb2 ON lb2.vec_id = b.vec_id
       |),
       |vt AS (
       |  SELECT aid, a_label, b_label, count(*) AS votes
       |  FROM prs WHERE rn <= $NoiseVoteK GROUP BY 1, 2, 3
       |),
       |wn AS (
       |  SELECT a_label AS label, b_label AS voted,
       |         row_number() OVER (PARTITION BY aid
       |                            ORDER BY votes DESC, b_label) AS vr
       |  FROM vt
       |),
       |doms AS (SELECT DISTINCT label FROM lb),
       |dom AS (SELECT a.label, b.label AS voted FROM doms a, doms b),
       |cf AS (
       |  SELECT label, voted, CAST(count(*) AS BIGINT) AS n
       |  FROM wn WHERE vr = 1 GROUP BY 1, 2
       |),
       |fz AS (
       |  SELECT dom.label, dom.voted, COALESCE(cf.n, 0) AS n
       |  FROM dom LEFT JOIN cf USING (label, voted)
       |),
       |rt AS (
       |  SELECT *, CAST(sum(n) OVER (PARTITION BY label) AS BIGINT) AS row_total
       |  FROM fz
       |)
       |SELECT label, voted, CAST(n AS BIGINT) AS n,
       |       CASE WHEN row_total = 0 THEN CAST(0 AS BIGINT)
       |            ELSE (CAST(n AS BIGINT) * 1000000) // row_total END AS share_ppm
       |FROM rt ORDER BY label, voted""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q42_cosine_ivf", Some(q42Sql), q42),
    QuerySpec("q72_semantic_dedup", Some(q72Sql), q72,
      // graft_cell_dups cells-per-task must fit the object-agg hash
      // map (the q157 rule; buffers are input-bounded, so a high
      // threshold is memory-safe)
      confs = Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 20).toString)),
    QuerySpec("q123_cluster_margin", Some(q123Sql), q123),
    QuerySpec("q157_label_noise", Some(q157Sql), q157, aqe = false,
      // graft_cell_knn groups by IVF cell: the cells per task must fit
      // the object-agg hash map (buffers are input-bounded, so a high
      // threshold is memory-safe; past it the sort-based fallback is
      // the correct spill path)
      confs = Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 20).toString)),
  )
}
