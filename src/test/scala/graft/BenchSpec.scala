package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** A query whose rep throws is reported as failed with its error class,
  * never timed: it stays out of the timings (and so out of the bench
  * line's `queries` and `total`). */
class BenchSpec extends SparkSpec {

  test("a failing query is listed as failed, not timed") {
    val ok = QuerySpec("ok", None, (s, _) => s.range(10).toDF())
    val boom = QuerySpec("boom", None, (s, _) =>
      s.range(10).select(raise_error(lit("injected")).as("x")))
    val early = QuerySpec("early", None, (_, _) => throw new UnsupportedOperationException("no plan"))
    val (timed, failed) = Bench.timeAll(spark, "unused", reps = 2, aqe = None, Seq(ok, boom, early))
    assert(timed.map(_._1) === Seq("ok"))
    assert(timed.forall(_._2 > 0))
    assert(failed.map(_._1) === Seq("boom", "early"))
    assert(failed.toMap.apply("early") === "java.lang.UnsupportedOperationException")
    assert(failed.toMap.apply("boom").nonEmpty)
  }
}
