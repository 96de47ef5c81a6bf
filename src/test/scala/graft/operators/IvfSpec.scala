package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("IVF index: every vector assigned to exactly one of K cells") {
    val (assigned, centroids) = IvfQueries.index(spark, dir)
    assert(centroids.count() <= 16)
    assert(assigned.count() === 500)
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() === 0)
    val cells = assigned.select("cell").distinct().count()
    assert(cells > 1 && cells <= 16)
  }

  test("cell count scales as ceil(sqrt(N)/4) with the 16-cell test-scale floor") {
    // the fix for the 100x-replica finding: fixed 16 cells made
    // within-cell work (q72/q157) quadratic; sqrt-N cells puts
    // assignment and within-cell pairs both at ~N^1.5
    assert(IvfQueries.kFor(500L) === 16)    // sf0.001/sf0.01
    assert(IvfQueries.kFor(2000L) === 16)   // sf0.1
    assert(IvfQueries.kFor(4096L) === 16)   // floor boundary
    assert(IvfQueries.kFor(20000L) === 36)  // 10x replica
    assert(IvfQueries.kFor(200000L) === 112) // 100x replica
  }

  test("q42 results come only from probed cells, top-k per query, deterministic") {
    val fn = SparkEntry.queries("q42_cosine_ivf")
    val r1 = fn(spark, dir).collect()
    val r2 = fn(spark, dir).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    val perQuery = r1.groupBy(_.getAs[Long]("qid"))
    assert(perQuery.values.forall(_.length <= 3))
    assert(perQuery.values.forall(rows => rows.map(_.getAs[Long]("rn")).sorted.toSeq ===
      (1L to rows.length).toSeq))
  }

  test("q157 plan: the pair stream never exists as rows — no self-join, no sort") {
    // the round-15 fused shape: the within-cell self-join (and with it
    // the ~N²/K pair-row stream, its 2-row explode and the graft_topk
    // pass over it) is GONE — graft_cell_knn collects each cell's
    // members once and runs the i<j cosine + top-k loop inside the
    // aggregate. The pin: the kernel is present, and the member stream
    // below its PARTIAL aggregate reaches the assignment scan with no
    // join, no exchange and no sort (the single exchange between
    // partial and final buffers is the one member-set shuffle the
    // query needs; label joins on winner rows sit above the aggregate)
    val df = SparkEntry.queries("q157_label_noise")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("graft_cell_knn"),
      s"expected the fused cell-kNN aggregate:\n$p")
    assert(!p.contains("graft_topk"), s"retired pair-stream top-k resurfaced:\n$p")
    // physical plans print children after parents: from the partial
    // aggregate down to its leaf is the member stream
    val lines = p.split("\n")
    val aggIdx = lines.indexWhere(_.contains("partial_graft_cell_knn"))
    assert(aggIdx >= 0, s"plan shape changed:\n$p")
    val leafIdx = lines.indexWhere(l =>
      l.contains("Scan ") || l.contains("LocalTableScan"), aggIdx)
    assert(leafIdx > aggIdx, s"plan shape changed:\n$p")
    val between = lines.slice(aggIdx, leafIdx)
    assert(!between.exists(l =>
      l.contains("Exchange") || l.contains("Sort ") || l.contains("Join")),
      s"the member stream must reach the kernel in place:\n${between.mkString("\n")}")
  }

  test("margins frame == the recomputed own-vs-best-other centroid similarities") {
    // buildIndexFull derives a_sim/b_sim from the assignment window's
    // rk1/rk2 rows; pin them against the direct definition (max sim to
    // the OWN cell / max sim to any OTHER cell) computed the way the
    // pre-round-13 q123 did
    val b = IvfQueries.buildIndexFull(spark, dir)
    val got = b.margins.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    val ref = b.assigned
      .crossJoin(broadcast(b.centroids.select(
        col("cell").as("ccell"), col("cv"), col("cnrm"))))
      .withColumn("sim", Det.rate(VectorMath.cosine("v", "cv", col("nrm"), col("cnrm"))))
      .groupBy(col("vec_id"), col("cell"))
      .agg(max(when(col("ccell") === col("cell"), col("sim"))).as("a_sim"),
        max(when(col("ccell") =!= col("cell"), col("sim"))).as("b_sim"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === ref)
    b.scored.unpersist()
  }

  test("stored assignment vectors survive the float pack/unpack losslessly") {
    // the standing ivf_assigned table stores v as array<float> (every
    // element is a float-exact double); the decode must be identity
    val b = IvfQueries.buildIndexFull(spark, dir)
    val before = b.assigned.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getInt(3)))
    val roundTrip = b.assigned
      .select(col("vec_id"),
        expr("transform(transform(v, x -> CAST(x AS FLOAT)), x -> CAST(x AS DOUBLE))").as("v"),
        col("nrm"), col("cell"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getInt(3)))
    assert(roundTrip === before)
    b.scored.unpersist()
  }

  test("q42 recall vs brute force is meaningfully above random") {
    val ivf = SparkEntry.queries("q42_cosine_ivf")(spark, dir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("cid")).toSet }
    // brute-force top-3 for the same query set
    val exact = SparkEntry.queries("q28_cosine_topk")(spark, dir).collect()
      .filter(_.getAs[Long]("rn") <= 3)
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("cid")).toSet }
    val recalls = exact.map { case (q, truth) =>
      ivf.get(q).map(found => found.intersect(truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    // nprobe/K = 4/16 of the table scanned; random chance recall ≈ 0.25.
    // Cell-pruned search must beat that clearly even on uniform vectors.
    assert(meanRecall > 0.35, s"mean recall@3 = $meanRecall")
  }
}
