package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (64-dim float vectors).
  *
  * q28 is the brute-force cosine top-k baseline: a sampled query set
  * (2% of vectors) broadcast against all candidates — a
  * BroadcastNestedLoopJoin whose cost is |Q|·|C|·dim. Correct at test
  * scale; at 100 TB this is the oracle you validate the ANN path with,
  * on a sampled query set exactly like this one.
  *
  * q29 is the scale path: sign-random-hyperplane LSH (8 deterministic
  * md5-derived ±1 hyperplanes → 256 buckets). Search becomes an
  * EQUI-join on bucket id — a hash shuffle instead of a cross join —
  * at the cost of recall. Dot products use codegen'd higher-order
  * array functions (zip_with + aggregate), no UDFs.
  *
  * Similarity is rounded to 1e-6 BEFORE ranking (ties then broken by
  * vec_id) so rank order is stable across engines despite last-ulp
  * float differences.
  */
object SimilarityQueries {

  /** Fixed eval/search panel size — the q101 discipline applied to
    * every ANN/eval panel in the engine: `vec_id % 50 = 0` ALONE
    * makes a panel proportional to the corpus, and panel × corpus
    * kernels (brute yardsticks, vote/eval harnesses) then grow
    * quadratically (measured on q101 before its cap: 17× at 10×
    * data). Every panel keeps only the smallest [[EvalPanelCap]]
    * qualifying ids — ORDER BY vec_id LIMIT in the oracles, so both
    * engines compute the identical bounded panel; 8 binds at every sf
    * (panels are 10/10/40). */
  private[operators] val EvalPanelCap = 8

  /** vectors as double arrays + precomputed L2 norm. */
  private def normed(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))

  // ---------------------------------------------------------------- q28
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val base = normed(s, dir)
    val q = base.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(EvalPanelCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = base.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cn"))))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid")))
        .cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  private val q28Sql =
    """WITH nv AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |),
      |qp AS (SELECT vec_id FROM nv WHERE vec_id % 50 = 0
      |       ORDER BY vec_id LIMIT 8),
      |p AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim
      |  FROM nv q JOIN qp ON q.vec_id = qp.vec_id
      |  JOIN nv c ON q.vec_id <> c.vec_id
      |),
      |r AS (SELECT qid, cid, sim,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
      |      FROM p)
      |SELECT qid, rn, cid, sim FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Deterministic ±1 hyperplane component for (plane j, dim d): parity
    * of the first md5 nibble of "j:d". Engine-independent pseudo-random. */
  private[operators] def planeComponent(j: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if ("13579bdf".contains(hex.charAt(0))) 1.0 else -1.0
  }

  /** (vec_id, label, v, nrm, bucket): vectors under the 8-plane sign-LSH
    * bucketing — the candidate-generation frame q29 (search) and q108
    * (hard-negative mining) share. */
  private def bucketedVecs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))
    val bucket = (0 until 8).map { j =>
      val plane = typedLit((0 until 64).map(d => planeComponent(j, d)))
      (plane.as(s"p$j"), when(VectorMath.dot("v", s"p$j") > 0, lit(1 << j)).otherwise(lit(0)))
    }
    base.select(Seq(col("vec_id"), col("label"), col("v"), col("nrm")) ++ bucket.map(_._1): _*)
      .withColumn("bucket", bucket.map(_._2).reduce(_ + _))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("bucket"))
  }

  private def q29(s: SparkSession, dir: String): DataFrame = {
    val bucketed = bucketedVecs(s, dir)
    val q = bucketed.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(EvalPanelCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val c = bucketed
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"), col("bucket"))
    // equi-join on bucket — the ANN win: hash shuffle, not a cross join
    q.join(c, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cn"))))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid")))
        .cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("cid"), col("sim"), col("bucket").cast("long").as("bucket"))
      .orderBy(col("qid"), col("rn"))
  }

  /** q29's hyperplanes are deterministic constants, so the whole
    * LSH-bucketed search is oracle-expressible: the ±1 components are
    * inlined as literal DOUBLE[] arrays. */
  private val q29Sql: String = {
    def planeArray(j: Int): String =
      (0 until 64).map(d => planeComponent(j, d)).mkString("[", ", ", "]::DOUBLE[]")
    val bucketExpr = (0 until 8)
      .map(j => s"(CASE WHEN list_dot_product(v, ${planeArray(j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH nv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), bk AS (
       |  SELECT vec_id, v, nrm, $bucketExpr AS bucket FROM nv
       |), qp AS (
       |  SELECT vec_id FROM bk WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 8
       |), p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.bucket,
       |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim
       |  FROM bk q JOIN qp ON q.vec_id = qp.vec_id
       |  JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), r AS (
       |  SELECT qid, cid, sim, bucket,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM p
       |)
       |SELECT qid, rn, cid, sim, CAST(bucket AS BIGINT) AS bucket
       |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
  }

  // ---------------------------------------------------------------- q79
  /** kNN label vote — the standard embedding-space label-quality probe
    * over a curated corpus: for each sampled query vector, take its 10
    * cosine-nearest labeled neighbors and predict the majority label
    * (ties → smaller label id); report per-class agreement with the
    * vector's own label. High agreement means the embedding clusters
    * match the taxonomy; a class with low agreement is mislabeled or
    * entangled. Reuses q28's rounded-sim ranking so neighbor order is
    * engine-stable; the vote and the accuracy are exact integer
    * arithmetic on top.
    *
    * Scale: same broadcast-query shape as q28 — |Q| is a sample, the
    * candidate side streams; the vote is a (qid, label) count over ≤
    * 10·|Q| rows. The IVF/LSH variants (q29/q42/q58) are the drop-in
    * scale path for the neighbor-gen stage.
    */
  private val VoteK = 10

  private def q79(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))
    val q = base.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(EvalPanelCap)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val c = base.select(col("vec_id").as("cid"), col("label").as("nbr_label"),
      col("v").as("cv"), col("nrm").as("cn"))
    val nbrs = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cn"))))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rn") <= VoteK)
    val votes = nbrs.groupBy(col("qid"), col("true_label"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number()
        .over(Window.partitionBy(col("qid"))
          .orderBy(col("votes").desc, col("nbr_label"))))
      .filter(col("vr") === 1)
    votes
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("nbr_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        Det.rate(col("n_correct").cast("double") / col("n_queries")))
      .orderBy(col("label"))
  }

  private val q79Sql =
    s"""WITH nv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), qp AS (
       |  SELECT vec_id FROM nv WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 8
       |), p AS (
       |  SELECT q.vec_id AS qid, q.label AS true_label, c.label AS nbr_label,
       |         c.vec_id AS cid,
       |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim
       |  FROM nv q JOIN qp ON q.vec_id = qp.vec_id
       |  JOIN nv c ON q.vec_id <> c.vec_id
       |), r AS (
       |  SELECT qid, true_label, nbr_label,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM p
       |), votes AS (
       |  SELECT qid, true_label, nbr_label, count(*) AS votes
       |  FROM r WHERE rn <= $VoteK GROUP BY qid, true_label, nbr_label
       |), pred AS (
       |  SELECT qid, true_label, nbr_label,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY votes DESC, nbr_label) AS vr
       |  FROM votes
       |)
       |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(sum(CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_correct,
       |       floor(CAST(sum(CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1e6 + 0.5) / 1e6 AS accuracy
       |FROM pred WHERE vr = 1 GROUP BY true_label ORDER BY label""".stripMargin

  // --------------------------------------------------------------- q108
  /** Hard-negative mining for contrastive training — the DPR/Contriever
    * training-data step: for each panel query, the top-K most similar
    * candidates that are safe to use as negatives. Two exclusions make
    * them safe: (a) near-duplicates (sim ≥ τ, the q72 dedup threshold)
    * are unlabeled POSITIVES — training against them poisons the loss
    * (the "false negative" problem); (b) same-label candidates are
    * potential positives under the supervised-contrastive rule. What
    * survives is the hardest honest negative set, ranked sim desc.
    *
    * Scale: candidate generation IS the q29 sign-LSH bucket equi-join
    * (hash shuffle on bucket, never a cross join), both exclusions are
    * scan-side predicates on the joined pair — no extra exchange over
    * the ANN search the miner rides on — and per-query top-K plans
    * rank-limit heaps. At 100 TB swap the bucket join for the IVF
    * partition-pruned probe (q42) unchanged. */
  private val NegDupTau = 0.4
  private val NegK = 3

  private def q108(s: SparkSession, dir: String): DataFrame = {
    val b = bucketedVecs(s, dir)
    val q = b.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(EvalPanelCap)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val c = b.select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
      col("v").as("cv"), col("nrm").as("cn"), col("bucket"))
    q.join(c, Seq("bucket"))
      .filter(col("qid") =!= col("neg_id") && col("q_label") =!= col("neg_label"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cn"))))
      .filter(col("sim") < NegDupTau)
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("neg_id")))
        .cast("long"))
      .filter(col("rn") <= NegK)
      .select(col("qid"), col("rn"), col("neg_id"), col("sim"),
        col("q_label"), col("neg_label"))
      .orderBy(col("qid"), col("rn"))
  }

  private val q108Sql: String = {
    def planeArray(j: Int): String =
      (0 until 64).map(d => planeComponent(j, d)).mkString("[", ", ", "]::DOUBLE[]")
    val bucketExpr = (0 until 8)
      .map(j => s"(CASE WHEN list_dot_product(v, ${planeArray(j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH nv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), bk AS (
       |  SELECT vec_id, label, v, nrm, $bucketExpr AS bucket FROM nv
       |), qp AS (
       |  SELECT vec_id FROM bk WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 8
       |), p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS neg_id,
       |         q.label AS q_label, c.label AS neg_label,
       |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim
       |  FROM bk q JOIN qp ON q.vec_id = qp.vec_id
       |  JOIN bk c ON q.bucket = c.bucket
       |   AND q.vec_id <> c.vec_id AND q.label <> c.label
       |), r AS (
       |  SELECT qid, neg_id, q_label, neg_label, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neg_id) AS rn
       |  FROM p WHERE sim < $NegDupTau
       |)
       |SELECT qid, rn, neg_id, sim, q_label, neg_label
       |FROM r WHERE rn <= $NegK ORDER BY qid, rn""".stripMargin
  }

  // --------------------------------------------------------------- q119
  /** Random-projection (Johnson–Lindenstrauss) dimensionality-reduction
    * audit: project the 64-d embeddings to K = 16 dimensions with a
    * deterministic ±1 sign matrix (Achlioptas 2003 — the database-
    * friendly projection: no Gaussians, just signs) and report the
    * norm-distortion histogram ‖Pv‖/(√K·‖v‖) — the measured answer to
    * "can the ANN index run at quarter dimension?" (the q96/q98 PQ
    * family's cheaper cousin, and the standard pre-step before LSH at
    * high dim).
    *
    * Exactness: embeddings quantize to integer codes first
    * (floor(x·64 + 0.5) — one multiply+floor per element, the q58
    * int-code move), so every projected coordinate and both squared
    * norms are exact BIGINT sums — immune to float-addition order
    * across engines/partitions; the single sqrt+divide per vector is
    * bit-identical IEEE. The sign matrix derives from md5("rp:j:k")
    * nibbles, generated RELATIONALLY (a 1024-row frame both engines
    * build from the same string hashes) — no literal matrix to drift.
    *
    * Scale: ONE map-side pass — the native
    * [[graft.functions.RpMoments]] kernel reads each coordinate once
    * and emits two BIGINTs per vector (projected and raw squared
    * norms), so the only exchange is the ≤ ~60-bucket histogram.
    * All-zero vectors have no defined distortion and are excluded by
    * the c2 > 0 guard (none exist in the testdata; the spec pins the
    * accounting). */
  private val RpK = 16
  private val RpQuant = 64

  private def q119(s: SparkSession, dir: String): DataFrame = {
    // one codegen'd pass per vector: graft_rp_moments folds the whole
    // projection (p2 = ‖Pv‖² in integer codes) and the raw norm c2
    // into two BIGINTs per row — the composed posexplode → 1024-row
    // sign-join → two grouped sums paid an explode factor of D·K
    // (~1.3 G join rows at the 100× replica, the r12 warm sweep's
    // 14.3 s line). The sign matrix inside the kernel is the same
    // md5("rp:j:k") parity the oracle derives relationally, so the
    // hash match cross-checks the matrix (RpMomentsSpec additionally
    // pins kernel == composed form). Exchange: the ≤ ~60-bucket
    // histogram only.
    Tables.embeddings(s, dir)
      .select(expr(s"graft_rp_moments(embedding, $RpK, 64, $RpQuant)").as("pm"))
      .select(col("pm").getItem(0).as("p2"), col("pm").getItem(1).as("c2"))
      .filter(col("c2") > 0)
      .withColumn("ratio", sqrt(col("p2").cast("double") / (lit(RpK) * col("c2"))))
      .withColumn("bucket", floor(col("ratio") * 40).cast("long"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("bucket"))
  }

  private val q119Sql =
    s"""WITH signs AS (
       |  SELECT j, k,
       |         CASE WHEN substr(md5('rp:' || CAST(j AS VARCHAR) || ':' ||
       |                               CAST(k AS VARCHAR)), 1, 1)
       |                IN ('0','1','2','3','4','5','6','7')
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT id // $RpK AS j, id % $RpK AS k
       |        FROM range(${64 * RpK}) t(id))
       |), codes AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $RpQuant + 0.5)
       |              AS BIGINT) AS code
       |  FROM embeddings
       |), proj AS (
       |  SELECT c.vec_id, s.k, CAST(sum(c.code * s.sgn) AS BIGINT) AS p
       |  FROM codes c JOIN signs s ON c.j = s.j
       |  GROUP BY c.vec_id, s.k
       |), p2 AS (
       |  SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS p2 FROM proj GROUP BY vec_id
       |), c2 AS (
       |  SELECT vec_id, CAST(sum(code * code) AS BIGINT) AS c2
       |  FROM codes GROUP BY vec_id
       |)
       |SELECT CAST(floor(sqrt(CAST(p2.p2 AS DOUBLE) / ($RpK * c2.c2)) * 40)
       |            AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_vecs
       |FROM c2 JOIN p2 USING (vec_id)
       |WHERE c2.c2 > 0
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q125
  /** Retrieval-evaluation harness — nDCG@10, MRR, and Recall@10 of the
    * exact cosine ranking against label-match relevance (the metric
    * layer every RAG / embedding pipeline runs after q28/q42/q98
    * produce rankings; swap the ANN candidate stage in to score IT
    * instead). Binary relevance: a candidate is relevant iff it shares
    * the query's label; n_rel comes from the corpus label histogram, so
    * IDCG is the PROPER ideal (all corpus-wide relevant docs ranked
    * first, capped at k) — not the top-k's own relevance resorted.
    *
    * All three metrics are EXACT integer micro-units (q118's ppm
    * discipline): the 1/log2(i+1) discounts are pre-rounded to
    * integer µ-gains shared verbatim by both engines, so DCG/IDCG are
    * order-immune BIGINT sums and ndcg_ppm is one integer division —
    * no float summation anywhere after the (rounded) sim ranking.
    *
    * Scale: q28's broadcast-query shape for candidate gen (|Q| is a
    * sample; swap in the IVF/LSH stage at scale), label histogram is a
    * |labels|-row broadcast, metric algebra runs on ≤ k·|Q| rows. */
  private val NdcgK = 10

  /** Integer µ-gain ladder: round(1e6 / log2(i+1)), i = 1..k — ONE
    * Scala computation interpolated into both engines' texts. */
  private val wMu: Seq[Long] =
    (1 to NdcgK).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private val wPrefix: Seq[Long] = wMu.scanLeft(0L)(_ + _).tail // index 1..k

  private def q125(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))
    val labCnt = base.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
    val q = base.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(EvalPanelCap)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val ranked = base
      .select(col("vec_id").as("cid"), col("label").as("nbr_label"),
        col("v").as("cv"), col("nrm").as("cn"))
      .join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cn"))))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid")))
        .cast("long"))
      .filter(col("rn") <= NdcgK)
    val gains = ranked
      .withColumn("rel", (col("nbr_label") === col("true_label")).cast("long"))
      .withColumn("w", element_at(
        array(wMu.map(lit): _*), col("rn").cast("int")))
      .groupBy(col("qid"), col("true_label"))
      .agg(sum(col("rel")).as("hits"),
        sum(col("rel") * col("w")).as("dcg_u"),
        coalesce(max(when(col("rel") === 1L, expr("1000000 div rn"))), lit(0L))
          .as("mrr_ppm"))
    gains
      .join(broadcast(labCnt), col("true_label") === col("label"))
      .withColumn("n_rel", col("n_lab") - 1L)
      .withColumn("k_eff", least(lit(NdcgK.toLong), col("n_rel")))
      .withColumn("idcg_u", when(col("k_eff") <= 0, 0L).otherwise(
        element_at(array(wPrefix.map(lit): _*), col("k_eff").cast("int"))))
      .withColumn("ndcg_ppm", when(col("idcg_u") === 0, 0L)
        .otherwise(expr("CAST(dcg_u * 1000000 div idcg_u AS BIGINT)")))
      .withColumn("recall_ppm", when(col("k_eff") <= 0, 0L)
        .otherwise(expr("CAST(hits * 1000000 div k_eff AS BIGINT)")))
      .select(col("qid"), col("true_label"), col("n_rel"), col("hits"),
        col("mrr_ppm"), col("dcg_u"), col("idcg_u"), col("ndcg_ppm"),
        col("recall_ppm"))
      .orderBy(col("qid"))
  }

  private val q125Sql = {
    val wList = wMu.mkString("[", ", ", "]")
    val pList = wPrefix.mkString("[", ", ", "]")
    s"""WITH nv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), lc AS (SELECT label, count(*) AS n_lab FROM nv GROUP BY label),
       |qp AS (
       |  SELECT vec_id FROM nv WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 8
       |),
       |p AS (
       |  SELECT q.vec_id AS qid, q.label AS true_label, c.label AS nbr_label,
       |         c.vec_id AS cid,
       |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim
       |  FROM nv q JOIN qp ON q.vec_id = qp.vec_id
       |  JOIN nv c ON q.vec_id <> c.vec_id
       |), r AS (
       |  SELECT qid, true_label, nbr_label,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM p
       |), t AS (
       |  SELECT qid, true_label, rn,
       |         CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END AS rel,
       |         $wList[rn] AS w
       |  FROM r WHERE rn <= $NdcgK
       |), g AS (
       |  SELECT qid, true_label,
       |         CAST(sum(rel) AS BIGINT) AS hits,
       |         CAST(sum(rel * w) AS BIGINT) AS dcg_u,
       |         CAST(COALESCE(max(CASE WHEN rel = 1 THEN 1000000 // rn END), 0) AS BIGINT)
       |           AS mrr_ppm
       |  FROM t GROUP BY qid, true_label
       |)
       |SELECT g.qid, g.true_label, CAST(lc.n_lab - 1 AS BIGINT) AS n_rel, g.hits,
       |       g.mrr_ppm, g.dcg_u,
       |       CAST(CASE WHEN least($NdcgK, lc.n_lab - 1) <= 0 THEN 0
       |                 ELSE $pList[least($NdcgK, lc.n_lab - 1)] END AS BIGINT) AS idcg_u,
       |       CAST(CASE WHEN least($NdcgK, lc.n_lab - 1) <= 0 THEN 0
       |                 ELSE g.dcg_u * 1000000 // $pList[least($NdcgK, lc.n_lab - 1)] END
       |            AS BIGINT) AS ndcg_ppm,
       |       CAST(CASE WHEN least($NdcgK, lc.n_lab - 1) <= 0 THEN 0
       |                 ELSE g.hits * 1000000 // least($NdcgK, lc.n_lab - 1) END
       |            AS BIGINT) AS recall_ppm
       |FROM g JOIN lc ON lc.label = g.true_label
       |ORDER BY g.qid""".stripMargin
  }

  // --------------------------------------------------------------- q126
  /** Embedding anisotropy audit (Ethayarajh 2019 / Mu & Viswanath
    * "All-but-the-Top"): the mean pairwise cosine between embeddings,
    * per label and overall — a high value means the space collapses
    * into a narrow cone, which silently degrades every cosine-based
    * stage upstream (q28/q42/q72/q125) and is the standard argument
    * for mean-centering before indexing. `top_dim_share` (the largest
    * single dimension's share of the mean-vector mass) is the
    * companion read: one dominant direction = the classic common-
    * direction artifact that centering removes.
    *
    * NO pairwise anything: mean pairwise dot over i≠j collapses to the
    * closed form (‖Σu‖² − Σ‖u‖²) / (N(N−1)) — one corpus pass. Unit
    * vectors quantize to integer milli-codes first (q119's int-code
    * move), so Σu per dimension and both quadratic forms are exact
    * BIGINT sums, order-immune across engines and partitions; the two
    * final divisions run on identical exact operands.
    *
    * Scale: explode factor D, ONE map-side-combined (label, dim)
    * aggregation (the overall row folds from the per-label frame —
    * sums are additive — not from a second corpus pass), then
    * |labels|·D-row algebra. */
  private val IsoQuant = 1000L

  private def q126(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))
      .filter(col("nrm") > 0)
    val codes = base
      .select(col("label"), posexplode(
        expr(s"transform(v, x -> CAST(floor(x / nrm * $IsoQuant + 0.5) AS BIGINT))"))
        .as(Seq("d", "qc")))
    // every vector contributes exactly one row per dimension, so the
    // per-(label, d) row count IS the label's vector count — n_vecs
    // rides the aggregation instead of two more corpus scans; and both
    // grouping levels come from ONE pass via GROUPING SETS (a union of
    // two aggregates would duplicate the scan subtree — Spark plans
    // each union branch independently)
    codes.groupingSets(Seq(Seq(col("label"), col("d")), Seq(col("d"))),
        col("label"), col("d"))
      .agg(sum(col("qc")).as("sd"), sum(col("qc") * col("qc")).as("sq"),
        count(lit(1)).as("cnt"))
      .withColumn("label", coalesce(col("label"), lit(-1L)))
      .groupBy(col("label"))
      .agg(sum(col("sd") * col("sd")).as("sum_sq"),
        sum(col("sq")).as("sum_self"),
        max(col("sd") * col("sd")).as("max_s2"),
        max(col("cnt")).as("n_vecs"))
      .withColumn("pair_num", col("sum_sq") - col("sum_self"))
      .withColumn("mean_cos", when(col("n_vecs") <= 1, lit(0.0)).otherwise(
        Det.rate(col("pair_num").cast("double") /
          (col("n_vecs") * (col("n_vecs") - 1L)).cast("double") /
          lit((IsoQuant * IsoQuant).toDouble))))
      .withColumn("top_dim_share", when(col("sum_sq") === 0, lit(0.0)).otherwise(
        Det.rate(col("max_s2").cast("double") / col("sum_sq").cast("double"))))
      .select(col("label"), col("n_vecs"), col("pair_num"), col("mean_cos"),
        col("top_dim_share"))
      .orderBy(col("label"))
  }

  private val q126Sql =
    s"""WITH nv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), codes AS (
       |  SELECT label, d,
       |         CAST(floor(v[d] / nrm * $IsoQuant + 0.5) AS BIGINT) AS qc
       |  FROM nv CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)
       |  WHERE nrm > 0
       |), u AS (
       |  SELECT COALESCE(label, -1) AS label, d, CAST(sum(qc) AS BIGINT) AS sd,
       |         CAST(sum(qc * qc) AS BIGINT) AS sq,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM codes GROUP BY GROUPING SETS ((label, d), (d))
       |),
       |agg AS (
       |  SELECT label, CAST(sum(sd * sd) AS BIGINT) AS sum_sq,
       |         CAST(sum(sq) AS BIGINT) AS sum_self,
       |         CAST(max(sd * sd) AS BIGINT) AS max_s2,
       |         CAST(max(cnt) AS BIGINT) AS n_vecs
       |  FROM u GROUP BY label
       |)
       |SELECT label, n_vecs,
       |       (sum_sq - sum_self) AS pair_num,
       |       CASE WHEN n_vecs <= 1 THEN 0.0 ELSE
       |         floor(CAST(sum_sq - sum_self AS DOUBLE)
       |               / CAST(n_vecs * (n_vecs - 1) AS DOUBLE)
       |               / ${(IsoQuant * IsoQuant).toDouble} * 1e6 + 0.5) / 1e6 END
       |         AS mean_cos,
       |       CASE WHEN sum_sq = 0 THEN 0.0 ELSE
       |         floor(CAST(max_s2 AS DOUBLE) / CAST(sum_sq AS DOUBLE) * 1e6 + 0.5)
       |           / 1e6 END AS top_dim_share
       |FROM agg
       |ORDER BY label""".stripMargin

  // --------------------------------------------------------------- q155
  /** Greedy k-center coreset selection (Sener & Savarese 2018, "Active
    * Learning for Convolutional Neural Networks: A Core-Set Approach";
    * the greedy farthest-point rule is Gonzalez 1985's classic
    * 2-approximation): pick K exemplars so every vector is close to
    * some exemplar — the DIVERSITY-driven data-selection family member
    * beside q93's distribution matching (DSIR) and q87/q57's
    * volume-driven samplers. Each round adds the vector FARTHEST from
    * the chosen set (max of the running min-distance), and the
    * recorded radius trajectory is the diminishing-returns read a
    * selection run uses to choose K.
    *
    * Exactness: embeddings quantize to milli-integer codes (q119's
    * move) so every squared distance is an exact BIGINT and the
    * argmax (dist DESC, vec_id ASC) is a total order — both engines
    * pick identical centers. Seed = lowest vec_id (deterministic; the
    * 2-approximation holds for any seed). The oracle replays the same
    * K rounds as unrolled MATERIALIZED CTEs.
    *
    * Output: (step, vec_id, radius_sq) — radius_sq is the chosen
    * vector's min squared distance to the prior centers, i.e. the
    * k-center objective after step−1 centers.
    *
    * Scale: centers are BATCHED per pass — one scan computes every
    * row's exact min distance to ALL picked centers (a ≤ K·d-long
    * literal in the plan; no joins) and TakeOrders a C-row candidate
    * pool under the selection's total order (mind DESC, vec_id ASC).
    * The driver then greedily picks SEVERAL centers from the pool:
    * minds only shrink as centers are added, so every non-pool row is
    * forever bounded by the pool cutoff, and a locally-updated
    * candidate strictly above the cutoff is provably the true global
    * argmax (the first pick after a fresh scan is exact even at the
    * cutoff — the pool's (mind, vec_id) order already resolved its
    * ties). Typically 2 scans replace the K−1 sequential rounds of
    * the naive loop — at 100 TB that is the whole game, since each
    * round is a full corpus scan — and the selections are
    * bit-identical to exact greedy (a prune, not an approximation):
    * the unrolled-exact oracle and the spec's naive replay both pin
    * it. */
  private val KCenters = 8
  private val KCenterPool = 64 // candidate pool per scan

  private def q155(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.spread(Tables.embeddings(s, dir), col("vec_id"))
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("q"))
    // NOT persisted: the batched selection touches the frame 2-3 times
    // total (seed + 1-2 candidate scans) — at corpus scale you re-read
    // the columnar source rather than pin N vectors in executor memory
    locally {
      def sq(a: Array[Long], b: Array[Long]): Long = {
        var s2 = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s2 += d * d; i += 1 }
        s2
      }
      // seed: lowest vec_id (deterministic; radius 0 by definition)
      val seed = base.orderBy(col("vec_id")).select(col("vec_id"), col("q")).head()
      val centers = scala.collection.mutable.ArrayBuffer[Array[Long]](
        seed.getSeq[Long](1).toArray)
      val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
        (1L, seed.getLong(0), 0L))
      while (picked.length < KCenters) {
        // ONE scan against ALL current centers, then a C-row TakeOrdered
        val cLit = centers.map(_.mkString("array(", "L,", "L)"))
          .mkString("array(", ",", ")")
        val cand = base
          .withColumn("mind", expr(
            s"""aggregate(transform($cLit, c ->
               |  aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)),
               |            CAST(0 AS BIGINT), (acc, x) -> acc + x)),
               |CAST(${Long.MaxValue} AS BIGINT), (m, x) -> least(m, x))""".stripMargin))
          .orderBy(col("mind").desc, col("vec_id"))
          .limit(KCenterPool)
          .select(col("vec_id"), col("mind"), col("q"))
          .collect()
        val wholeCorpus = cand.length < KCenterPool
        val cutoff = if (wholeCorpus) Long.MinValue else cand.last.getLong(1)
        val ids = cand.map(_.getLong(0))
        val minds = cand.map(_.getLong(1))
        val vecs = cand.map(_.getSeq[Long](2).toArray)
        // local greedy: valid while the winner's updated mind stays
        // STRICTLY above the cutoff (a tie could hide a smaller
        // outside vec_id); the scan's FIRST pick is exact even at the
        // cutoff, which also guarantees ≥1 pick per scan
        var scanPicks = 0
        var go = true
        while (picked.length < KCenters && go) {
          var bi = 0
          var i = 1
          while (i < ids.length) {
            if (minds(i) > minds(bi) ||
                (minds(i) == minds(bi) && ids(i) < ids(bi))) bi = i
            i += 1
          }
          if (!wholeCorpus && scanPicks > 0 && minds(bi) <= cutoff) go = false
          else {
            picked += ((picked.length + 1L, ids(bi), minds(bi)))
            centers += vecs(bi)
            scanPicks += 1
            i = 0
            while (i < ids.length) {
              minds(i) = math.min(minds(i), sq(vecs(i), vecs(bi)))
              i += 1
            }
          }
        }
      }
      picked.toSeq.toDF("step", "vec_id", "radius_sq").orderBy(col("step"))
    }
  }

  private val q155Sql = {
    // the round-n center vector PRE-FILTERED into its own 64-row
    // derived table: a scalar-subquery filter in the join condition
    // lands POST-join in DuckDB 1.0, degenerating the i-equi join to
    // N rows per key (measured 300x: 119 s -> 0.25 s at sf0.1 with
    // identical output). kc$n is MATERIALIZED for the same reason as
    // the chain CTEs — it is referenced by the next round AND the
    // final union.
    def centerTbl(n: Int) =
      s"(SELECT k2.i, k2.val FROM kcodes k2, kc$n WHERE k2.vec_id = kc$n.cid) b"
    def distSum(prev: String, n: Int) =
      s"""  SELECT a.vec_id,
         |         least(p.mind, CAST(sum((a.val - b.val) * (a.val - b.val))
         |                            AS BIGINT)) AS mind
         |  FROM kcodes a
         |  JOIN ${centerTbl(n)} ON a.i = b.i
         |  JOIN $prev p ON p.vec_id = a.vec_id
         |  GROUP BY a.vec_id, p.mind""".stripMargin
    val steps = (2 to KCenters).map { n =>
      val d =
        if (n == 2)
          s"""kd2 AS MATERIALIZED (
             |  SELECT a.vec_id, CAST(sum((a.val - b.val) * (a.val - b.val))
             |                        AS BIGINT) AS mind
             |  FROM kcodes a
             |  JOIN ${centerTbl(1)} ON a.i = b.i
             |  GROUP BY a.vec_id
             |)""".stripMargin
        else
          s"""kd$n AS MATERIALIZED (
             |${distSum(s"kd${n - 1}", n - 1)}
             |)""".stripMargin
      val c =
        s"""kc$n AS MATERIALIZED (
           |  SELECT vec_id AS cid, mind FROM kd$n
           |  ORDER BY mind DESC, vec_id LIMIT 1
           |)""".stripMargin
      s"$d,\n$c"
    }.mkString(",\n")
    val out = (2 to KCenters)
      .map(n => s"SELECT CAST($n AS BIGINT) AS step, cid AS vec_id, mind AS radius_sq FROM kc$n")
      .mkString("\nUNION ALL\n")
    s"""WITH kcodes AS MATERIALIZED (
       |  SELECT vec_id, i,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
       |           AS val
       |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)
       |), kc1 AS (
       |  SELECT min(vec_id) AS cid FROM embeddings
       |),
       |$steps
       |SELECT CAST(1 AS BIGINT) AS step, cid AS vec_id, CAST(0 AS BIGINT)
       |         AS radius_sq
       |FROM kc1
       |UNION ALL
       |$out
       |ORDER BY step""".stripMargin
  }

  // --------------------------------------------------------------- q156
  /** All-but-the-Top whitening audit (Mu & Viswanath 2018): q126
    * MEASURES the cone collapse (anisotropy, top_dim_share along raw
    * axes); this computes the actual dominant PRINCIPAL direction —
    * mean-center, 12-step power iteration on the exact integer Gram
    * matrix — and reports per label how much variance that single
    * direction holds (explained_ppm). A high share is the go signal
    * for the ABTT fix (subtract the projection before any cosine
    * stage); var_total − var_top is the post-removal variance the
    * whitened pipeline would see.
    *
    * Exactness end-to-end: codes are milli-integers (q155), the mean
    * uses symmetric truncated division (sign·(|Σ| DIV n) — Spark DIV
    * truncates toward zero where DuckDB // floors, so negative sums
    * need the explicit form), the 64×64 Gram is exact BIGINT sums,
    * and the power iterate renormalizes each step by max-abs with the
    * same symmetric division. The audit's direction is DEFINED as the
    * 12-step iterate from the all-ones seed — a deterministic
    * quantity both engines compute bit-identically; near-isotropic
    * data (a small eigengap) affects its convergence, never its
    * cross-engine equality.
    *
    * Scale: ONE corpus action total. The moments aggregate is the
    * native `graft_outer_moments` kernel keyed by label — each row's
    * 64×64 outer product folds scan-side into a fixed 4161-long buffer
    * per (partition, label), so the only exchange moves |labels|
    * buffers per task (N·d² multiply-adds total, zero intermediate
    * rows, state bounded by the label domain × d² regardless of N; no
    * join, no shuffle of vector rows, no persist).
    * Everything downstream is driver arithmetic on those cells: the
    * global Gram is the label-sum, the 12-step iteration is O(d²) on
    * 4096 longs, and the per-label projection energy needs no second
    * corpus pass because Σᵢ dotᵢ² = vᵀ·G_label·v exactly over the
    * integers (dotᵢ = Σⱼ cvᵢⱼvⱼ, G_label = Σᵢ cvᵢcvᵢᵀ) — computed in
    * BigInt on the Spark side and HUGEINT in the oracle, so the
    * division by ‖v‖² happens once per label AFTER the exact sum (the
    * pre-round-12 form truncated per vector and ran a second corpus
    * pass + persist to do it). */
  private val AbttIters = 12

  /** q156's raw-moment frame — ONE scan for the per-label n, per-dim
    * sums AND raw Gram: the native [[graft.functions.OuterMoments]]
    * aggregate fuses each row's 64×64 outer product straight into a
    * 4161-long buffer (row-major Gram, raw sums at 4096..4159, count at
    * 4160), keyed by label, partial-aggregated map-side, so the only
    * exchange moves one ~33 KB buffer per (task, label). The original
    * shape self-joined an exploded frame on vec_id, shuffling N·d rows
    * pre-aggregate (plan pinned join-free/one-scan in
    * PipelinePlanShapeSpec). */
  private[operators] def abttMoments(arr: DataFrame): DataFrame =
    // cast the key to int IN THE PLAN: the schema contract admits
    // int32 OR int64 label footers (the round-6 drift mode), and the
    // driver-side collect below reads the key with a typed getInt —
    // without this cast a regenerated int64 testdata would CCE at
    // runtime instead of failing the contract spec first
    arr.groupBy(col("label").cast("int").as("label"))
      .agg(expr("graft_outer_moments(q, 64)").as("mom"))

  private def q156(s: SparkSession, dir: String): DataFrame = {
    val arr = Tables.spread(Tables.embeddings(s, dir), col("vec_id"))
      .select(col("vec_id"), col("label"),
        expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
          .as("q"))
    val byLabel: Map[Int, IndexedSeq[Long]] = abttMoments(arr).collect()
      .map { r =>
        // explicit failure beats the bare getInt's silent-0 NPE path:
        // the audit is defined over non-null labels only
        require(!r.isNullAt(0), "q156: NULL label in embeddings")
        r.getInt(0) -> r.getSeq[Long](1).toIndexedSeq
      }.toMap
    val labels = byLabel.keys.toSeq.sorted
    def cell(l: Int, idx: Int): Long = byLabel(l)(idx)
    val nL = labels.map(l => l -> cell(l, 4160)).toMap
    val n = math.max(nL.values.sum, 1L)
    // global per-dim sums and mean (symmetric truncated division)
    val sums = Array.tabulate(64)(j => labels.map(cell(_, 4096 + j)).sum)
    val m = sums.map(sv => java.lang.Long.signum(sv).toLong * (math.abs(sv) / n))
    // exact per-label centered Gram from the raw moments (all integer,
    // so the identity Σ(x_j−m_j)(x_k−m_k) = G_raw − m_j·S_k − m_k·S_j
    // + n·m_j·m_k holds EXACTLY per label — m is the GLOBAL integer
    // truncated mean, S/n the label's own raw sums/count)
    def gramL(l: Int): Array[Array[Long]] = {
      val sL = Array.tabulate(64)(j => cell(l, 4096 + j))
      Array.tabulate(64, 64)((j, k) =>
        cell(l, j * 64 + k) - m(j) * sL(k) - m(k) * sL(j) + nL(l) * m(j) * m(k))
    }
    val gramsByLabel = labels.map(l => l -> gramL(l)).toMap
    val gram = Array.tabulate(64, 64)((j, k) =>
      labels.map(l => gramsByLabel(l)(j)(k)).sum)
    // driver power iteration, max-abs renormalized each step
    var v = Array.fill(64)(1000L)
    for (_ <- 1 to AbttIters) {
      val raw = Array.tabulate(64)(k =>
        (0 until 64).map(j => gram(j)(k) * v(j)).sum)
      val mx = raw.map(math.abs).max max 1L
      v = raw.map(x => math.signum(x) * (math.abs(x) * 1000L / mx))
    }
    val vnorm = BigInt(v.map(x => x * x).sum)
    val rows = labels.map { l =>
      val g = gramsByLabel(l)
      // var_total = tr(G_label) = Σᵢ‖cvᵢ‖²; var_top = vᵀG_label v / ‖v‖²
      // = (Σᵢ dotᵢ²) / ‖v‖² — BigInt keeps the quadratic form exact
      // (it exceeds int64 at ~10⁵ vectors) before the one truncation.
      // Degenerate-data guards (all-identical vectors ⇒ zero Gram ⇒
      // zero v; a label exactly at the global mean ⇒ varTotal 0): emit
      // NULL like the SQL DIV the pre-round-12 form used, never throw
      val varTotal = (0 until 64).map(j => g(j)(j)).sum
      val vGv = (for (j <- 0 until 64; k <- 0 until 64)
        yield BigInt(g(j)(k)) * v(j) * v(k)).sum
      val varTop: Option[Long] =
        if (vnorm == 0) None else Some((vGv / vnorm).toLong)
      val ppm: Option[Long] =
        if (varTotal == 0L) None
        else varTop.map(t => (BigInt(t) * 1000000 / varTotal).toLong)
      (l.toLong, nL(l), varTotal, varTop, ppm)
    }
    import s.implicits._
    rows.toDF("label", "n_vecs", "var_total", "var_top", "explained_ppm")
      .orderBy(col("label"))
  }

  private val q156Sql = {
    val iters = (1 to AbttIters).map { t =>
      s"""pr$t AS MATERIALIZED (
         |  SELECT g.k AS i, CAST(sum(g.g * p.val) AS BIGINT) AS raw
         |  FROM gr g JOIN pv${t - 1} p ON p.i = g.j GROUP BY g.k
         |), mx$t AS (
         |  SELECT CAST(greatest(max(abs(raw)), 1) AS BIGINT) AS mx FROM pr$t
         |), pv$t AS MATERIALIZED (
         |  SELECT i, CAST(CASE WHEN raw < 0 THEN -((-raw) * 1000 // mx)
         |                      ELSE (raw * 1000) // mx END AS BIGINT) AS val
         |  FROM pr$t, mx$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH exq AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(i - 1 AS INT) AS i,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
       |           AS val
       |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)
       |), nn AS (
       |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM exq
       |), mn AS (
       |  SELECT i, CAST(CASE WHEN sv < 0 THEN -((-sv) // n)
       |                      ELSE sv // n END AS BIGINT) AS m
       |  FROM (SELECT i, CAST(sum(val) AS BIGINT) AS sv FROM exq GROUP BY i), nn
       |), cvt AS MATERIALIZED (
       |  SELECT e.vec_id, e.label, e.i, e.val - mn.m AS cv
       |  FROM exq e JOIN mn ON mn.i = e.i
       |), gr AS MATERIALIZED (
       |  SELECT a.i AS j, b.i AS k, CAST(sum(a.cv * b.cv) AS BIGINT) AS g
       |  FROM cvt a JOIN cvt b ON a.vec_id = b.vec_id GROUP BY 1, 2
       |), pv0 AS (
       |  SELECT i, CAST(1000 AS BIGINT) AS val
       |  FROM (SELECT DISTINCT i FROM exq)
       |),
       |$iters,
       |vn AS (
       |  SELECT CAST(sum(val * val) AS BIGINT) AS vnorm FROM pv$AbttIters
       |), pvec AS (
       |  SELECT c.label, c.vec_id,
       |         CAST(sum(c.cv * p.val) AS BIGINT) AS dot,
       |         CAST(sum(c.cv * c.cv) AS BIGINT) AS nsq
       |  FROM cvt c JOIN pv$AbttIters p ON p.i = c.i
       |  GROUP BY 1, 2
       |), lsum AS (
       |  -- sum the exact dot^2 in HUGEINT, divide by ||v||^2 ONCE per
       |  -- label (mirrors the Spark side's BigInt v'Gv / vnorm);
       |  -- degenerate guards mirror the engine's NULL-not-throw contract
       |  SELECT label,
       |         CAST(count(*) AS BIGINT) AS n_vecs,
       |         CAST(sum(nsq) AS BIGINT) AS var_total,
       |         CASE WHEN (SELECT vnorm FROM vn) = 0 THEN NULL
       |              ELSE CAST(sum(CAST(dot AS HUGEINT) * dot)
       |                   // (SELECT CAST(vnorm AS HUGEINT) FROM vn) AS BIGINT)
       |         END AS var_top
       |  FROM pvec GROUP BY label
       |)
       |SELECT CAST(label AS BIGINT) AS label, n_vecs, var_total, var_top,
       |       CASE WHEN var_total = 0 OR var_top IS NULL THEN NULL
       |            ELSE CAST(CAST(var_top AS HUGEINT) * 1000000
       |                 // CAST(var_total AS HUGEINT) AS BIGINT)
       |       END AS explained_ppm
       |FROM lsum ORDER BY label""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q28_cosine_topk", Some(q28Sql), q28),
    QuerySpec("q29_cosine_lsh", Some(q29Sql), q29),
    QuerySpec("q79_knn_label_vote", Some(q79Sql), q79),
    QuerySpec("q108_hard_negatives", Some(q108Sql), q108),
    QuerySpec("q119_random_projection", Some(q119Sql), q119),
    QuerySpec("q125_retrieval_ndcg", Some(q125Sql), q125),
    QuerySpec("q126_anisotropy", Some(q126Sql), q126),
    QuerySpec("q155_kcenter_coreset", Some(q155Sql), q155),
    QuerySpec("q156_abtt_whitening", Some(q156Sql), q156),
  )
}
