package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Product quantization (Jégou et al. 2011 — the PQ in FAISS's
  * IVF-PQ, the standard billion-scale ANN index): split each vector
  * into M subspaces, learn a K-centroid codebook per subspace by
  * Lloyd iterations, encode every vector as M small codes, and answer
  * queries with asymmetric distance computation (ADC) — the query
  * meets each codebook once, the corpus only through its codes.
  * Completes the ANN family: q42 trains the coarse IVF partition,
  * q58 scalar-quantizes, this trains the fine product codebook.
  *
  * Exactness (the cross-engine contract): components quantize to
  * integers (floor(x·1000 + 0.5) — the q58 rule), centroids stay
  * integer via floor(sum / count) computed in double (both factors
  * ≤ 2^31, so the double division is exact-input and the floor is
  * deterministic on both engines), assignment tiebreak is
  * (distance, centroid id) ascending, and a centroid that loses all
  * members keeps its previous position. Every distance is therefore
  * an exact BIGINT and the DuckDB oracle replays the SAME iterations
  * as machine-generated unrolled CTEs (the q91 oracle pattern).
  *
  * 100 TB: the vector frame is the one corpus-scale object and the
  * corpus is NEVER joined or shuffled — the codebook (M·K·subDim
  * longs, kilobytes) ships to executors as an array literal, so
  * assignment is a pure projection (nested `aggregate` folds), each
  * Lloyd update is one map-side-combined aggregate down to M·K·subDim
  * groups (the only shuffle, constant-size output), and the final ADC
  * pass is scan → project → TakeOrdered heap. Codes are M bytes per
  * vector — the 256× compression that makes exhaustive ADC scans
  * feasible at billion scale. Production composes this under q42's
  * IVF cells unchanged (IVF-PQ). */
object PqQueries {

  private val M = 8       // subspaces (64-dim embeddings → 8 × 8)
  private val SubDim = 8
  private val K = 16      // centroids per subspace
  private val Iters = 2   // Lloyd update rounds (then a final encode)
  private val TopK = 10
  private val Scale = 1000

  // Expression kernels over an input column `v: array<long>` and a
  // codebook literal cl[m][k][j]. Every consumer must embed codeFor
  // exactly once per (row, subspace): project collapse would otherwise
  // inline a named `codes` column into per-exploded-row expressions
  // and recompute the K-fold argmin once per COMPONENT (measured 10×
  // slower).

  /** Squared distance of subspace mm's subvector to codebook entry
    * kk. */
  private def subDist(cl: Column, mm: Column, kk: Column, subDim: Int): Column =
    aggregate(sequence(lit(0), lit(subDim - 1)), lit(0L), (s2, j) => {
      val diff = element_at(col("v"), mm * subDim + j + 1) -
        element_at(element_at(element_at(cl, mm + 1), kk + 1), j + 1)
      s2 + diff * diff
    })

  /** Per-subspace assignment as struct(d, kk, i): the distance array
    * is the fold INPUT, so it is evaluated exactly once; the argmin
    * fold carries (best d, best k, i) with strict < keeping the lowest
    * k on ties — the (d, cid) ascending rule. */
  private def assignStruct(cl: Column, mm: Column, subDim: Int, k: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(k - 1)), kk => subDist(cl, mm, kk, subDim)),
      struct(lit(Long.MaxValue).as("d"), lit(-1).as("kk"), lit(0).as("i")),
      (acc, d) => struct(
        when(d < acc.getField("d"), d).otherwise(acc.getField("d")).as("d"),
        when(d < acc.getField("d"), acc.getField("i"))
          .otherwise(acc.getField("kk")).as("kk"),
        (acc.getField("i") + 1).as("i")))

  private def codeFor(cl: Column, mm: Column, subDim: Int, k: Int): Column =
    assignStruct(cl, mm, subDim, k).getField("kk")

  private def codebookLit(cb: Array[Array[Array[Long]]]): Column =
    typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Train the product codebook over (vec_id: long — unique,
    * v: array<long> of m·subDim components): K-smallest-id init, then
    * `iters` integer-mean Lloyd rounds. Returns cb[m][k][j] — the
    * driver-held artifact (kilobytes) that ships to executors as a
    * literal, and to the streaming encoder as a closure (the
    * `PqStream` twin beside its spec in src/test). */
  private[graft] def trainCodebook(
      vecs: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int): Array[Array[Array[Long]]] =
    trainCore(vecs, m, subDim, k, iters)(_ => ())

  /** The trainer loop. `finish` runs against the still-cached input
    * frame — [[pqModel]] fetches its query panel there instead of
    * paying a second corpus scan after the cache is gone (the q92 hook
    * pattern). An input the caller already persisted is left alone on
    * exit ([[ivfpqTrain]] holds one cache across both training
    * stages). */
  private def trainCore(
      vecs: DataFrame, m: Int, subDim: Int, k: Int, iters: Int)(
      finish: DataFrame => Unit): Array[Array[Array[Long]]] = {
    val preCached = vecs.storageLevel != StorageLevel.NONE
    val pts = if (preCached) vecs else vecs.persist()
    try {
      // ---- init: the K smallest vec_ids' vectors, cid by rank ----
      val init = pts.orderBy(col("vec_id")).limit(k).collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Long](1).toArray)
      val cent: Array[Array[Array[Long]]] =
        Array.tabulate(m, k, subDim)((mm, kk, j) => init(kk)(mm * subDim + j))

      // ---- Lloyd rounds: assign (pure projection) → integer-mean
      // update (driver holds the codebook, the q80 collected-artifact
      // rule). The code rides INSIDE the exploded struct so it is
      // computed once per (vec, subspace). ----
      (1 to iters).foreach { _ =>
        val cl = codebookLit(cent)
        val subStructs = transform(sequence(lit(0), lit(m - 1)), mm =>
          struct(mm.as("m"), codeFor(cl, mm, subDim, k).as("cid"),
            slice(col("v"), mm * subDim + 1, lit(subDim)).as("sub")))
        val sums = pts.select(explode(subStructs).as("s"))
          .select(col("s.m").as("m"), col("s.cid").as("cid"),
            posexplode(col("s.sub")).as(Seq("j", "val")))
          .groupBy(col("m"), col("cid"), col("j"))
          .agg(floor(sum(col("val")).cast("double") / count(lit(1)))
            .cast("long").as("nv"))
          .collect()
        // cells absent from sums keep their previous position
        sums.foreach { r =>
          cent(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3)
        }
      }
      finish(pts)
      cent
    } finally if (!preCached) pts.unpersist()
  }

  /** Batch PQ encode against a trained codebook: (vec_id, codes,
    * qerr) where qerr is the exact integer quantization error — the
    * index-build materialization. The per-m assignment structs are
    * computed ONCE per row below an `explode(array(...))` generate, so
    * the two derived columns cannot re-trigger the argmin folds. */
  private[graft] def encoded(
      vecs: DataFrame, cb: Array[Array[Array[Long]]], subDim: Int): DataFrame = {
    val m = cb.length
    val k = cb(0).length
    val cl = codebookLit(cb)
    val enc = aggregate(
      transform(sequence(lit(0), lit(m - 1)), mm => assignStruct(cl, mm, subDim, k)),
      struct(lit(Array.empty[Int]).as("codes"), lit(0L).as("qerr")),
      (acc, s) => struct(
        concat(acc.getField("codes"), array(s.getField("kk"))).as("codes"),
        (acc.getField("qerr") + s.getField("d")).as("qerr")))
    vecs.select(col("vec_id"), explode(array(enc)).as("e"))
      .select(col("vec_id"), col("e.codes").as("codes"), col("e.qerr").as("qerr"))
  }

  // ---------------------------------------------------------------- q96
  /** Integer-quantized vectors of the embeddings corpus: val_i =
    * floor(x_i·1000 + 0.5) — exactly the oracle's per-component
    * quantization. */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale + 0.5) AS BIGINT))")
        .as("v"))

  /** The PQ model as a STANDING ARTIFACT ([[Artifacts]]): trained
    * codebook + the q28-rule query panel (vec_id % [[RecallMod]] = 0;
    * vec 0 — q96's query — is panel row 0). One training run per
    * dataset serves q96 (single-query ADC) and q101 (the recall
    * harness); per-query retraining was ~1 s of identical Lloyd
    * rounds each. Driver footprint: M·K·subDim codebook longs + the
    * bounded eval panel — both shippable at any corpus size. */
  private[operators] def pqModel(s: SparkSession, dir: String)
      : (Array[Array[Array[Long]]], Array[(Long, Array[Long])]) =
    Artifacts.value(s, dir, "pq_model") {
      var qPanel: Array[(Long, Array[Long])] = null
      val cent = trainCore(
          Tables.spread(quantized(s, dir)), M, SubDim, K, Iters) { pts =>
        qPanel = pts.filter(col("vec_id") % RecallMod === 0)
          .orderBy(col("vec_id")).limit(PanelCap)
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
          .sortBy(_._1)
      }
      (cent, qPanel)
    }

  /** ADC (see object doc) over stored codes (vec_id, codes) against a
    * trained codebook cb[m][k][j]: the query meets each codebook entry
    * once in a driver-side lut, and ADC = Σ_m lut[m][code_m] is a
    * projection over the M-byte codes — no per-row argmin re-encode.
    * Returns the `topK` nearest (vec_id, adc_dist), query excluded,
    * (adc_dist, vec_id) ascending. */
  private[operators] def adcTopK(
      codes: DataFrame, cb: Array[Array[Array[Long]]], q0: Array[Long],
      queryId: Long, topK: Int): DataFrame = {
    val subDim = cb(0)(0).length
    val lut: Array[Array[Long]] = Array.tabulate(cb.length, cb(0).length) { (mm, kk) =>
      (0 until subDim).map { j =>
        val d = q0(mm * subDim + j) - cb(mm)(kk)(j); d * d
      }.sum
    }
    val lutLit = typedlit(lut.map(_.toSeq).toSeq)
    codes
      .select(col("vec_id"),
        cb.indices.map(mm =>
          element_at(element_at(lutLit, mm + 1),
            element_at(col("codes"), mm + 1) + 1))
          .reduce(_ + _).as("adc_dist"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** q96 serves its query off the STANDING codes ([[pqCodes]], q101's
    * index table): the per-row argmin encode of the whole corpus
    * happens once per dataset at index build. The stored codes are the
    * same assignStruct argmin the trainer assigns with, and the oracle
    * scores through its own codes CTE. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val (cent, panel) = pqModel(s, dir)
    adcTopK(pqCodes(s, dir), cent, panel.find(_._1 == 0L).get._2, 0L, TopK)
  }

  // ------------------------------------------------- oracle generators
  // The CTE generators are parameterized by a stage prefix `p` and the
  // source CTE `src` (columns vec_id, m, j, val) so q98 can unroll the
  // SAME round semantics twice — once for the coarse quantizer, once
  // for the fine residual codebook.

  /** One unrolled Lloyd round: assignment distances, row_number
    * argmin, integer-mean update with empty cells carried over. */
  private def roundCtes(n: Int, p: String, src: String): String = {
    val prev = if (n == 1) s"cent${p}0" else s"cent$p${n - 1}"
    s"""ad$p$n AS (
       |  SELECT q.vec_id, q.m, c.cid,
       |         CAST(sum((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS d
       |  FROM $src q JOIN $prev c ON c.m = q.m AND c.j = q.j
       |  GROUP BY 1, 2, 3
       |), asg$p$n AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
       |    FROM ad$p$n) WHERE rn = 1
       |), sums$p$n AS (
       |  SELECT a.m, a.cid, q.j,
       |         CAST(floor(CAST(sum(q.val) AS DOUBLE) / count(*)) AS BIGINT) AS nv
       |  FROM asg$p$n a JOIN $src q ON q.vec_id = a.vec_id AND q.m = a.m
       |  GROUP BY 1, 2, 3
       |), cent$p$n AS (
       |  SELECT p.m, p.cid, p.j, COALESCE(s.nv, p.cval) AS cval
       |  FROM $prev p LEFT JOIN sums$p$n s
       |    ON s.m = p.m AND s.cid = p.cid AND s.j = p.j
       |)""".stripMargin
  }

  /** Seed codebook: the K smallest vec_ids' component rows, cid by
    * rank. */
  private def initCte(p: String, src: String, k: Int): String =
    s"""cent${p}0 AS (
       |  SELECT q.m, CAST(r.rk - 1 AS INT) AS cid, q.j, q.val AS cval
       |  FROM $src q JOIN (
       |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
       |    FROM (SELECT DISTINCT vec_id FROM $src ORDER BY vec_id LIMIT $k)
       |  ) r USING (vec_id)
       |)""".stripMargin

  /** Final encode = one more assignment round, no update. */
  private def encodeCte(p: String, src: String, iters: Int, out: String): String =
    s"""adenc$p AS (
       |  SELECT q.vec_id, q.m, c.cid,
       |         CAST(sum((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS d
       |  FROM $src q JOIN cent$p$iters c ON c.m = q.m AND c.j = q.j
       |  GROUP BY 1, 2, 3
       |), $out AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
       |    FROM adenc$p) WHERE rn = 1
       |)""".stripMargin

  /** The full train-encode chain for one stage. */
  private def stageCtes(
      p: String, src: String, k: Int, iters: Int, out: String): String =
    (initCte(p, src, k) +:
      (1 to iters).map(roundCtes(_, p, src)) :+
      encodeCte(p, src, iters, out)).mkString(",\n")

  /** Oracle evaluation hint, applied per CONSUMER: DuckDB 1.0 inlines
    * every CTE reference, so the K-means round chain (each round
    * referenced by the next across ad/asg/sums/cent) expands
    * exponentially in q96/q98's oracles (q98 measured 12 s -> 1.2 s
    * with single evaluation pinned). q101's recall harness is the
    * opposite case — its sampled-query shape relies on
    * inlining-driven pushdown and the same hint regresses it ~100× —
    * so the hint rewrites the composed TEXT of exactly the queries it
    * helps instead of being baked into the shared builders. Values
    * are identical either way (oracle-compare-checked). */
  private def matHint(sql: String): String =
    sql.replaceAll("\\b((?:ad|asg|sums|cent|adenc|codes|cellenc|codesf)\\w*) AS \\(",
      "$1 AS MATERIALIZED (")


  private val q96Sql = matHint(
    s"""WITH qv AS (
       |  SELECT vec_id, CAST((i - 1) // $SubDim AS INT) AS m,
       |         CAST((i - 1) % $SubDim AS INT) AS j,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $Scale + 0.5) AS BIGINT) AS val
       |  FROM embeddings, unnest(generate_series(1, ${M * SubDim})) AS u(i)
       |),
       |${stageCtes("", "qv", K, Iters, "codes")},
       |lut AS (
       |  SELECT c.m, c.cid,
       |         CAST(sum((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS ld
       |  FROM cent$Iters c JOIN qv q ON q.vec_id = 0 AND q.m = c.m AND q.j = c.j
       |  GROUP BY 1, 2
       |)
       |SELECT k.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_dist
       |FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
       |WHERE k.vec_id <> 0
       |GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT $TopK""".stripMargin)

  // ---------------------------------------------------------------- q98
  /** IVF-PQ — the composition the whole ANN family exists for (the
    * FAISS `IVFx,PQy` index, the standard billion-scale deployment):
    * a COARSE quantizer partitions the corpus into cells, vectors are
    * PQ-encoded as RESIDUALS from their cell centroid, and a query
    * probes only its nprobe nearest cells, scoring candidates by ADC
    * with a per-cell residual lut.
    *
    * Both stages run the same trainer core ([[trainCodebook]]'s loop;
    * the coarse stage calls it with a query-fetch finish hook) — the
    * coarse quantizer IS a product codebook with one subspace spanning
    * the full vector (m=1, subDim=64, k=8), so the exactness contract
    * (integer centroids, strict-< lowest-id argmin, empty-cell
    * carry-over) holds end to end and the oracle unrolls the SAME
    * round CTEs twice via the stage generators.
    *
    * 100 TB: everything q96 says, plus the IVF win — the final scan
    * touches only nprobe/Cells of the corpus (with the index stored
    * cell-partitioned, a partition-pruned read — q42's layout), and
    * the per-cell luts are nprobe·M·K longs on the driver. Residual
    * encoding is why IVF-PQ beats flat PQ at equal bits: residual
    * norms are a cell-diameter, not a corpus-diameter. */
  private val Cells = 8
  private val NProbe = 2
  private val Dim = M * SubDim

  /** The IVF-PQ training stage over a pre-quantized vector frame, run
    * ONCE per dataset as q98's standing artifact. Returns (coarse
    * codebook, fine residual codebook, query vector). Parameterized so
    * the spec can pin the cells=1 degenerate case exactly equal to
    * flat PQ (residual encoding is a constant integer shift there, and
    * every stage is shift-exact). */
  private[operators] def ivfpqTrain(
      vecs: DataFrame, cells: Int, m: Int, subDim: Int, k: Int,
      iters: Int, queryId: Long)
      : (Array[Array[Array[Long]]], Array[Array[Array[Long]]], Array[Long]) = {
    val dim = m * subDim
    // ---- training: ONE outer cache spans both stages — the coarse
    // rounds fill it and the fine stage's residual cache fills FROM it
    // (trainCore leaves a pre-cached input alone), so the source is
    // scanned once for training plus once by the lazy returned plan ----
    var q0: Array[Long] = null
    val cached = vecs.persist()
    try {
      // coarse quantizer: one-subspace codebook over the full
      // vector; the query vector rides out through the finish hook
      val co = trainCore(cached, 1, dim, cells, iters) { pts =>
        q0 = pts.filter(col("vec_id") === queryId).head().getSeq[Long](1).toArray
      }
      val fi = trainCodebook(
        residualsOf(cached, codebookLit(co), dim, cells)
          .select(col("vec_id"), col("v")),
        m, subDim, k, iters)
      (co, fi, q0)
    } finally cached.unpersist()
  }

  /** Residual frame: the cell is assigned ONCE per row below a
    * generate barrier; the residual lambda then reads the plain
    * `cell` attribute (cheap) instead of re-running the coarse argmin
    * per component. */
  private def residualsOf(
      vecs: DataFrame, ccl: Column, dim: Int, cells: Int): DataFrame = vecs
    .select(col("vec_id"), col("v"),
      explode(array(codeFor(ccl, lit(0), dim, cells))).as("cell"))
    .select(col("vec_id"), col("cell"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        element_at(col("v"), j + 1) -
          element_at(element_at(element_at(ccl, lit(1)), col("cell") + 1),
            j + 1)).as("v"))

  /** The probe + ADC serving stage against an already-trained IVF-PQ
    * model — split from training so q98 runs off the standing
    * artifact. */
  private[operators] def ivfpqApply(
      vecs: DataFrame, coarse: Array[Array[Array[Long]]],
      fine: Array[Array[Array[Long]]], q0: Array[Long], cells: Int,
      nprobe: Int, m: Int, subDim: Int, k: Int, topK: Int,
      queryId: Long): DataFrame = {
    val dim = m * subDim
    val ccl = codebookLit(coarse)

    // ---- probe: the query's nprobe nearest cells, exact full-vector
    // distance, (d, cell) ascending ----
    val probes = (0 until cells).map { c =>
      val d = (0 until dim).map { j =>
        val t = q0(j) - coarse(0)(c)(j); t * t
      }.sum
      (d, c)
    }.sorted.take(nprobe).map(_._2)
    // per-probed-cell residual luts (nprobe·M·K longs)
    val lutMap: Map[Int, Seq[Seq[Long]]] = probes.map { c =>
      val qr = Array.tabulate(dim)(j => q0(j) - coarse(0)(c)(j))
      c -> Seq.tabulate(m, k) { (mm, kk) =>
        (0 until subDim).map { j =>
          val t = qr(mm * subDim + j) - fine(mm)(kk)(j); t * t
        }.sum
      }
    }.toMap

    val lutLit = typedlit(lutMap)
    val fcl = codebookLit(fine)
    val adc = aggregate(
      transform(sequence(lit(0), lit(m - 1)), mm =>
        element_at(element_at(element_at(lutLit, col("cell")), mm + 1),
          codeFor(fcl, mm, subDim, k) + 1)),
      lit(0L), (acc, x) => acc + x)
    residualsOf(vecs, ccl, dim, cells)
      .filter(col("cell").isin(probes.map(Int.box): _*))
      .select(col("vec_id"), adc.as("adc_dist"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** The IVF-PQ model (coarse + fine codebooks + query vector) as a
    * standing artifact — the FAISS index nobody retrains per query. */
  private[operators] def ivfpqModel(s: SparkSession, dir: String)
      : (Array[Array[Array[Long]]], Array[Array[Array[Long]]], Array[Long]) =
    Artifacts.value(s, dir, "ivfpq_model") {
      ivfpqTrain(Tables.spread(quantized(s, dir)), Cells, M, SubDim, K,
        Iters, queryId = 0L)
    }

  private def q98(s: SparkSession, dir: String): DataFrame = {
    val (coarse, fine, q0) = ivfpqModel(s, dir)
    ivfpqApply(Tables.spread(quantized(s, dir)), coarse, fine, q0,
      Cells, NProbe, M, SubDim, K, TopK, queryId = 0L)
  }

  private val q98Sql = matHint(
    s"""WITH qv64 AS (
       |  SELECT vec_id, CAST(0 AS INT) AS m, CAST(i - 1 AS INT) AS j,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $Scale + 0.5) AS BIGINT) AS val
       |  FROM embeddings, unnest(generate_series(1, $Dim)) AS u(i)
       |),
       |${stageCtes("c", "qv64", Cells, Iters, "cellenc")},
       |resq AS (
       |  SELECT q.vec_id, CAST(q.j // $SubDim AS INT) AS m,
       |         CAST(q.j % $SubDim AS INT) AS j,
       |         q.val - c.cval AS val
       |  FROM qv64 q JOIN cellenc a ON a.vec_id = q.vec_id
       |  JOIN centc$Iters c ON c.cid = a.cid AND c.j = q.j
       |),
       |${stageCtes("f", "resq", K, Iters, "codesf")},
       |probe AS (
       |  SELECT cid AS cell FROM (
       |    SELECT c.cid, sum((q.val - c.cval) * (q.val - c.cval)) AS d
       |    FROM centc$Iters c JOIN qv64 q ON q.vec_id = 0 AND q.j = c.j
       |    GROUP BY c.cid ORDER BY d, cid LIMIT $NProbe)
       |),
       |qres AS (
       |  SELECT p.cell, CAST(q.j // $SubDim AS INT) AS m,
       |         CAST(q.j % $SubDim AS INT) AS j,
       |         q.val - c.cval AS val
       |  FROM probe p JOIN centc$Iters c ON c.cid = p.cell
       |  JOIN qv64 q ON q.vec_id = 0 AND q.j = c.j
       |),
       |lutp AS (
       |  SELECT r.cell, f.m, f.cid,
       |         CAST(sum((r.val - f.cval) * (r.val - f.cval)) AS BIGINT) AS ld
       |  FROM qres r JOIN centf$Iters f ON f.m = r.m AND f.j = r.j
       |  GROUP BY 1, 2, 3
       |)
       |SELECT k.vec_id AS vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_dist
       |FROM codesf k
       |JOIN cellenc a ON a.vec_id = k.vec_id
       |JOIN lutp l ON l.cell = a.cid AND l.m = k.m AND l.cid = k.cid
       |WHERE k.vec_id <> 0
       |GROUP BY k.vec_id ORDER BY adc_dist, k.vec_id LIMIT $TopK""".stripMargin)

  // --------------------------------------------------------------- q101
  /** ANN recall evaluation — the harness every production ANN rollout
    * runs before swapping an index in: take a bounded query panel
    * (vec_id % 50 = 0, the q28 rule), compute EXACT L2 top-10 per
    * query as ground truth, compute PQ-ADC top-10 with the trained
    * codebook, and report per-query recall@10. Completes the ANN
    * family: q28 is the oracle, q29/q42/q58/q96/q98 are the methods,
    * this is the measurement.
    *
    * Exactness: ground truth and ADC scores are both exact BIGINT
    * distances with (d, vec_id) tiebreaks, so recall itself is exact
    * integer counting and the oracle replays the training via the
    * same unrolled stage CTEs as q96.
    *
    * 100 TB: a recall eval is ALWAYS a bounded panel against the full
    * corpus — the panel (and its per-query luts, Q·M·K longs) ships
    * broadcast/literal; ground truth is one scan × Q fold-projections
    * (the q28 brute shape, restricted to the panel); the ADC pass
    * scores codes only. Per-query top-k is a qid-partitioned window
    * over Q·N candidate rows cut to heap size by the same exchange
    * the final report needs anyway. */
  private val RecallMod = 50

  /** Hard panel-size cap: the % [[RecallMod]] rule alone makes the
    * panel PROPORTIONAL to the corpus, and the recall harness is
    * Q × N work — measured 17× slower at 10× data (SCALE.md sf1
    * appendix), i.e. quadratic at 100 TB. A production recall eval is
    * a FIXED query panel against the full corpus; the cap keeps the
    * smallest [[PanelCap]] qualifying ids (vec 0 — q96's query — is
    * always first) and the oracle applies the identical ORDER BY qid
    * LIMIT. 8 binds at every sf (panels are 10/10/40), so the capped
    * path is what both engines always compute. */
  private[operators] val PanelCap = 8

  // (score asc, vec_id asc) top-10 as ONE bounded hash aggregate:
  // the row_number window shuffled AND per-partition-sorted the full
  // Q·N candidate stream (2 × ~10 M rows at the 100× replica) — the
  // q157 graft_topk move. Packing: distances are exact integer sums
  // bounded by d·(2·Scale·max|x|)² ≈ 2²⁷ here (embeddings live in
  // [-0.58, 0.52]; 3× headroom under the 2²⁸−1 cap), ids get 35
  // bits, and "packed DESC" == "(score ASC, vec_id ASC)" exactly.
  private val DCap = (1L << 28) - 1
  private val VMask = (1L << 35) - 1
  // the packing is only injective while 0 <= score <= DCap and
  // 0 <= vec_id <= VMask — out-of-contract data would wrap pk
  // negative and decode GARBAGE neighbors silently (the data
  // contract gives ~3× headroom, but nothing upstream enforces it),
  // so fail loudly instead (r13 ADVICE)
  private def packGuarded(score: String): Column =
    when(col(score).between(0L, DCap) && col("vec_id").between(0L, VMask),
      (lit(DCap) - col(score)) * lit(1L << 35) + (lit(VMask) - col("vec_id")))
      .otherwise(raise_error(format_string(
        s"q101 pack out of contract: score=%d (cap $DCap) vec_id=%d (cap $VMask)",
        col(score).cast("long"), col("vec_id").cast("long"))))

  private def pqTop10(df: DataFrame, score: String): DataFrame =
    df.select(col("qid"), packGuarded(score).as("pk"))
      .groupBy(col("qid"))
      .agg(expr(s"graft_topk(pk, $TopK)").as("top"))
      .select(col("qid"), explode(col("top")).as("pk"))
      .select(col("qid"), (lit(VMask) - (col("pk") % lit(1L << 35))).as("vec_id"))

  /** Per-vector PQ codes as a STANDING ARTIFACT — the PQ index proper:
    * a production PQ deployment stores the M-byte codes and reads THEM
    * at query time; raw vectors are touched only at (re)build. q101's
    * ADC pass previously re-encoded the whole corpus (a second full
    * 64-long-per-row scan + the encode fold) every execution. */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "pq_codes") {
      val (cent, _) = pqModel(s, dir)
      encoded(Tables.spread(quantized(s, dir)), cent, SubDim)
        .select(col("vec_id"), col("codes"))
    }

  /** Exact-L2 ground-truth top-10 for the FIXED eval panel as a
    * standing localFrame — the ANN-benchmark ground-truth-file pattern
    * (SIFT1B ships its GT exactly like this: computed once per
    * (corpus, panel), stored, reused by every eval run). Q·10 rows. */
  private def pqGroundTruth(s: SparkSession, dir: String): DataFrame =
    Artifacts.localFrame(s, dir, "pq_gt_top10") {
      import s.implicits._
      val (_, qPanel) = pqModel(s, dir)
      val queries = qPanel.toSeq.map { case (qid, v) => (qid, v.toSeq) }
        .toDF("qid", "qv")
      pqTop10(
        Tables.spread(quantized(s, dir)).crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            aggregate(zip_with(col("v"), col("qv"), (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x).as("d")),
        "d")
    }

  private def q101(s: SparkSession, dir: String): DataFrame = {
    // model + query panel off the standing artifact (Q rows — the q28
    // bounded-panel rule); no per-query retraining
    val (cent, qPanel) = pqModel(s, dir)
    // per-query ADC luts (Q·M·K longs) as one map literal
    val luts: Map[Long, Seq[Seq[Long]]] = qPanel.map { case (qid, q0) =>
      qid -> Seq.tabulate(M, K) { (mm, kk) =>
        (0 until SubDim).map { j =>
          val d = q0(mm * SubDim + j) - cent(mm)(kk)(j); d * d
        }.sum
      }
    }.toMap
    val lutLit = typedlit(luts)
    val qidsLit = typedlit(qPanel.map(_._1).toSeq)

    // ---- ground truth: the standing GT table (LocalRelation) ----
    val exact = pqGroundTruth(s, dir)

    // ---- ADC: score the standing codes against every query's lut ----
    val adc = pqTop10(
      pqCodes(s, dir)
        .select(col("vec_id"), col("codes"), explode(qidsLit).as("qid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (0 until M).map(mm =>
            element_at(element_at(element_at(lutLit, col("qid")), mm + 1),
              element_at(col("codes"), mm + 1) + 1))
            .reduce(_ + _).as("adc")),
      "adc")

    exact.join(adc.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("n_hit"))
      .select(col("qid"), col("n_hit"),
        Det.rate(col("n_hit").cast("double") / TopK).as("recall"))
      .orderBy(col("qid"))
  }

  private val q101Sql =
    s"""WITH qv AS (
       |  SELECT vec_id, CAST((i - 1) // $SubDim AS INT) AS m,
       |         CAST((i - 1) % $SubDim AS INT) AS j,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $Scale + 0.5) AS BIGINT) AS val
       |  FROM embeddings, unnest(generate_series(1, ${M * SubDim})) AS u(i)
       |),
       |${stageCtes("", "qv", K, Iters, "codes")},
       |qs AS (
       |  SELECT DISTINCT vec_id AS qid FROM qv WHERE vec_id % $RecallMod = 0
       |  ORDER BY qid LIMIT $PanelCap
       |), ex AS (
       |  SELECT q.vec_id AS qid, t.vec_id,
       |         CAST(sum((t.val - q.val) * (t.val - q.val)) AS BIGINT) AS d
       |  FROM qv t JOIN qv q ON q.m = t.m AND q.j = t.j
       |  JOIN qs s ON q.vec_id = s.qid
       |  WHERE t.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), exr AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
       |    FROM ex) WHERE rn <= $TopK
       |), lut AS (
       |  SELECT q.vec_id AS qid, c.m, c.cid,
       |         CAST(sum((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS ld
       |  FROM cent$Iters c JOIN qv q ON q.m = c.m AND q.j = c.j
       |  JOIN qs s ON q.vec_id = s.qid
       |  GROUP BY 1, 2, 3
       |), ad AS (
       |  SELECT l.qid, k.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc
       |  FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
       |  WHERE k.vec_id <> l.qid
       |  GROUP BY 1, 2
       |), adr AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
       |    FROM ad) WHERE rn <= $TopK
       |)
       |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |       floor(CAST(count(a.vec_id) AS DOUBLE) / $TopK * 1e6 + 0.5) / 1e6
       |         AS recall
       |FROM exr e LEFT JOIN adr a ON a.qid = e.qid AND a.vec_id = e.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q96_pq_adc", Some(q96Sql), q96),
    QuerySpec("q98_ivfpq_search", Some(q98Sql), q98),
    QuerySpec("q101_pq_recall", Some(q101Sql), q101, aqe = false),
  )
}
