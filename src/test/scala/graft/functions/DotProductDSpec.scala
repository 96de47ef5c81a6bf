package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DotProductDSpec extends SparkSpec {

  test("graft_dot is registered via GraftExtensions and matches the HOF form bit-for-bit") {
    import spark.implicits._
    assert(spark.catalog.functionExists("graft_dot"))
    val vecs = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1), Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
    val both = vecs.select(
      expr("graft_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("hof"))
    // bit-for-bit: both fold left-to-right in index order
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("graft_dot null semantics match the HOF form: mismatch and null input -> null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))), // 11
      (None, Some(Seq(1.0))), // null input -> null
      (Some(Seq(1.0, 2.0, 5.0)), Some(Seq(2.0))), // length mismatch -> null (zip_with pads null)
    ).toDF("a", "b")
    val out = df.select(expr("graft_dot(a, b)")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq === Seq(Some(11.0), None, None))
  }

  test("q29 computes its eight plane dots with graft_dot, no HOF fold") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ZipWith}
    import spark.implicits._
    // a one-row embeddings table is enough: only the plan is inspected
    val dir = tempDir("q29-plan")
    Seq((1L, Seq.fill(64)(0.5f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val plan = graft.QueryCatalog.byName("q29_cosine_lsh").fn(spark, dir)
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    assert(!exprs.exists(_.exists {
      case _: ArrayAggregate | _: ZipWith => true
      case _ => false
    }), s"HOF fold left in:\n$plan")
    val planes = exprs.flatMap(_.collect { case d: DotProductD if d.right.foldable => d.right })
    assert(planes.distinct.size === 8, s"plane dots in:\n$plan")
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a = Literal.create(ArrayData.toArrayData(Array(1.5, -2.0, 3.0)), ArrayType(DoubleType))
    val b = Literal.create(ArrayData.toArrayData(Array(2.0, 4.0, 0.5)), ArrayType(DoubleType))
    val v = DotProductD(a, b).eval(null)
    assert(v === (1.5 * 2.0 + -2.0 * 4.0 + 3.0 * 0.5))
  }
}
