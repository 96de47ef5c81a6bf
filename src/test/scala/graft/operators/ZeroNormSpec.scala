package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Zero-norm contract for the cosine family (VectorMath.cosine and its
  * oracle twin): an all-zero embedding — or a derived centroid whose
  * members cancel — makes cosine 0/0, which Spark's ANSI mode turns
  * into a runtime DIVIDE_BY_ZERO error. The engine degrades to
  * sim = 0.0 ("similar to nothing") instead: safe under `sim >= t`
  * gates and DESC top-k windows, where a NULL would sort first.
  * Surfaced by the 100× replica sweep's degenerate-denominator audit
  * (q120's kappa was the empirical hit; the cosine family shares the
  * expression shape).
  */
class ZeroNormSpec extends SparkSpec {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType, nullable = false)))

  /** 12 candidates + 1 panel query (vec_id 0 ≡ 0 mod 50), one of the
    * candidates all-zero. Written as a real parquet dir so the query
    * runs through Tables.embeddings like production. */
  private lazy val dir: String = {
    val d = tempDir("graft-zeronorm")
    val rows = (0L to 12L).map { i =>
      val v =
        if (i == 7L) Array.fill(8)(0.0f) // the zero-norm candidate
        else Array.tabulate(8)(j => (((i + 1) * (j + 3)) % 11).toFloat - 3.0f)
      Row(i, v.toSeq, (i % 3).toInt)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), embSchema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("VectorMath.cosine yields 0.0 on a zero-norm side, exact cosine elsewhere") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 2.0), Seq(2.0, 4.0, 4.0)),   // parallel: cos = 1
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 3.0, 0.0)),   // orthogonal: cos = 0
      (Seq(0.0, 0.0, 0.0), Seq(2.0, 4.0, 4.0)),   // zero left: contract 0.0
      (Seq(0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0)))   // zero both: contract 0.0
      .toDF("a", "b")
      .withColumn("na", VectorMath.norm("a"))
      .withColumn("nb", VectorMath.norm("b"))
      .withColumn("sim", VectorMath.cosine("a", "b", col("na"), col("nb")))
    val sims = df.orderBy(monotonically_increasing_id()).collect().map(_.getAs[Double]("sim"))
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(sims(1) === 0.0)
    assert(sims(2) === 0.0) // would be DIVIDE_BY_ZERO without the guard
    assert(sims(3) === 0.0)
  }

  test("q28 brute-force top-k survives a zero-norm candidate and scores it 0.0") {
    val q28 = graft.QueryCatalog.all.find(_.name == "q28_cosine_topk").get.fn
    val rows = q28(spark, dir).collect() // throws without the guard
    assert(rows.nonEmpty)
    val zero = rows.filter(_.getAs[Long]("cid") == 7L)
    zero.foreach(r => assert(r.getAs[Double]("sim") === 0.0))
    // every other sim is a finite cosine in [-1, 1]
    rows.foreach { r =>
      val s = r.getAs[Double]("sim")
      assert(!s.isNaN && !s.isInfinite && s >= -1.0 && s <= 1.0)
    }
  }

  test("q42 IVF search survives a zero-norm candidate (centroid path included)") {
    val q42 = graft.QueryCatalog.all.find(_.name == "q42_cosine_ivf").get.fn
    val rows = q42(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("sim")
      assert(!s.isNaN && !s.isInfinite && s >= -1.0 && s <= 1.0)
    }
  }
}
