package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ADC on a hand-computable instance plus
  * invariants of the registered q96 on real testdata. The planted
  * instances run q96's own path: train with the trainer, encode with
  * `encoded`, score the codes with `adcTopK`. */
class PqQueriesSpec extends SparkSpec {

  import spark.implicits._

  private def queryVec(pts: DataFrame, queryId: Long): Array[Long] =
    pts.filter(col("vec_id") === queryId).head().getSeq[Long](1).toArray

  /** Flat PQ top-10 (vec_id, adc_dist) for query 0. */
  private def flatPq(pts: DataFrame, m: Int, subDim: Int, k: Int, iters: Int): Seq[(Long, Long)] = {
    val cb = PqQueries.trainCodebook(pts, m, subDim, k, iters)
    PqQueries.adcTopK(PqQueries.encoded(pts, cb, subDim), cb, queryVec(pts, 0L), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("one Lloyd round + ADC on a planted 1-subspace instance") {
    // 2-dim vectors, one subspace, K=2, one update round.
    //   v0=(0,0) v1=(10,0) v2=(0,9) v3=(10,1); init c0=v0, c1=v1.
    // Assign: v0,v2 -> c0; v1,v3 -> c1.
    // Integer means: c0=(0, floor(9/2))=(0,4); c1=(10, floor(1/2))=(10,0).
    // Encode: v0,v2 -> c0; v1,v3 -> c1.
    // lut(q=v0): c0 = 0+16 = 16, c1 = 100+0 = 100
    // -> v2 adc 16; v1 adc 100; v3 adc 100 (id tiebreak: v1 before v3)
    val pts = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(10L, 0L)),
      (2L, Seq(0L, 9L)), (3L, Seq(10L, 1L)),
    ).toDF("vec_id", "v")
    val got = flatPq(pts, m = 1, subDim = 2, k = 2, iters = 1)
    assert(got === Seq((2L, 16L), (1L, 100L), (3L, 100L)))
  }

  test("a singleton cluster is a stable fixed point across rounds") {
    val pts = Seq(
      (0L, Seq(0L, 0L)),
      (1L, Seq(5L, 0L)),  // init c1; nearest to itself in every round
      (2L, Seq(0L, 2L)),
      (3L, Seq(0L, 4L)),
    ).toDF("vec_id", "v")
    // round 1: c0 <- {v0,v2,v3} = (0, floor(6/3))=(0,2); c1 <- {v1} = (5,0)
    // round 2: v1 d(c0)=25+4=29, d(c1)=0 -> stays; others closer to c0
    //   c0 unchanged (0,2); c1 unchanged (5,0) — stable fixed point
    // encode: v1 -> c1, v2,v3 -> c0
    // lut(q=v0): c0 = 0+4 = 4; c1 = 25+0 = 25
    val got = flatPq(pts, m = 1, subDim = 2, k = 2, iters = 2)
    assert(got === Seq((2L, 4L), (3L, 4L), (1L, 25L)))
  }

  test("a cell that loses every member keeps its previous position") {
    // duplicate init vectors put c0 and c1 at the SAME point (5): every
    // assignment ties and the (d, cid) rule sends ALL mass — including
    // c1's own seed — to c0, so c1 is genuinely absent from the round-1
    // update and must carry (5) over. The carried value is then
    // OBSERVED: after c0's mean moves to floor((5+5+100)/3)=36, the
    // encode pass puts v1 back on the kept c1=(5) (d=0 beats 961), and
    // the query lut scores it 0 — a zeroed or dropped carry-over cell
    // would score (5-0)^2=25 instead.
    val pts = Seq(
      (0L, Seq(5L)), (1L, Seq(5L)), (2L, Seq(100L)),
    ).toDF("vec_id", "v")
    val got = flatPq(pts, m = 1, subDim = 1, k = 2, iters = 1)
    // v1 -> c1 (kept at 5): adc = (5-5)^2 = 0
    // v2 -> c0 (moved to 36): adc = (5-36)^2 = 961
    assert(got === Seq((1L, 0L), (2L, 961L)))
  }

  test("ivfpq with one cell degenerates EXACTLY to flat PQ") {
    // with cells=1 the residual encoding is a constant integer shift
    // (v - global floor-mean) and every stage is shift-exact: the fine
    // codebook trains to the shifted copy of the flat codebook, codes
    // coincide, and the per-cell lut equals the flat lut — so IVF-PQ
    // and flat PQ must return IDENTICAL (vec_id, adc_dist) rows
    val vecs = Seq(
      (0L, Seq(3L, 7L, 100L, -40L)),
      (1L, Seq(5L, 6L, 90L, -42L)),
      (2L, Seq(-8L, 0L, 110L, -39L)),
      (3L, Seq(4L, 8L, 95L, -41L)),
      (4L, Seq(50L, -60L, 0L, 12L)),
      (5L, Seq(48L, -55L, 5L, 10L)),
    ).toDF("vec_id", "v")
    val flat = flatPq(vecs, m = 2, subDim = 2, k = 2, iters = 2)
    val (coarse, fine, q0) = PqQueries.ivfpqTrain(vecs, cells = 1, m = 2, subDim = 2,
      k = 2, iters = 2, queryId = 0L)
    val ivf = PqQueries.ivfpqApply(vecs, coarse, fine, q0, cells = 1, nprobe = 1,
      m = 2, subDim = 2, k = 2, topK = 10, queryId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ivf === flat)
  }

  test("q98 on testdata: 10 rows, non-decreasing distances, query excluded") {
    val rows = graft.QueryCatalog.all.find(_.name == "q98_ivfpq_search").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 10)
    val dists = rows.map(_.getAs[Long]("adc_dist")).toSeq
    assert(dists === dists.sorted && dists.forall(_ >= 0L))
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("q96 on testdata: 10 rows, non-decreasing exact distances") {
    val rows = graft.QueryCatalog.all.find(_.name == "q96_pq_adc").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 10)
    val dists = rows.map(_.getAs[Long]("adc_dist")).toSeq
    assert(dists === dists.sorted)
    assert(dists.forall(_ >= 0L))
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L), "query doc excluded")
  }

  test("q101 recall: panel-sized, bounded, and far above random chance") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.QueryCatalog.all.find(_.name == "q101_pq_recall").get
      .fn(spark, dir).collect()
    val n = graft.Tables.embeddings(spark, dir).count()
    val qualifying = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 50 === 0).count()
    // the harness panel is the smallest PanelCap qualifying ids — the
    // fixed-size rule that keeps the eval bounded at any corpus size
    val panel = math.min(qualifying, PqQueries.PanelCap.toLong)
    assert(rows.length === panel, "one recall row per panel query")
    assert(qualifying > PqQueries.PanelCap,
      "the cap must bind at test scale so the bounded path is what runs")
    rows.foreach { r =>
      val hit = r.getAs[Long]("n_hit")
      assert(hit >= 0L && hit <= 10L)
      assert(r.getAs[Double]("recall") === hit / 10.0)
    }
    // random top-10 would hit ~10/(n-1) of the exact set; PQ must beat
    // that by a wide margin or the encoding is broken
    val avg = rows.map(_.getAs[Double]("recall")).sum / rows.length
    val chance = 10.0 / (n - 1)
    assert(avg > 5 * chance,
      f"avg recall $avg%.3f must clear 5x chance ($chance%.4f)")
  }

  test("ADC of a vector sitting exactly on its codebook entries is 0 to itself's query") {
    // if the query IS an init centroid and survives as a fixed point,
    // lut at its own codes must be 0 — checked via a separated corpus
    // where each init vector is its cluster's exact integer mean
    val pts = Seq(
      (0L, Seq(0L)), (1L, Seq(100L)),   // two 1-dim singleton clusters
      (2L, Seq(0L)), (3L, Seq(100L)),   // duplicates at the centroids
    ).toDF("vec_id", "v")
    val got = flatPq(pts, m = 1, subDim = 1, k = 2, iters = 2)
    // v2 shares v0's code -> adc 0; v1, v3 at the far centroid -> 10000
    assert(got === Seq((2L, 0L), (1L, 10000L), (3L, 10000L)))
  }
}
