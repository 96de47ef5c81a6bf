package graft.functions

import graft.SparkSpec
import graft.operators.EventQueries
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Native `graft_ln_small` vs the independently-derived fold-CaseWhen
  * reference ladder: the three forms (native expression, reference
  * Column fold, scalar kernel) must agree everywhere, including the
  * class boundaries and the clamp. */
class LnSmallSpec extends SparkSpec {

  import spark.implicits._

  /** The fold-CaseWhen reference form of the ladder: the
    * independently-derived executable spec the native expression is
    * pinned against. */
  private def lnSmallWeightRef(num: Column, den: Column): Column =
    (0 to LnSmallKernel.MaxE)
      .foldRight(lit(LnSmallKernel.Bottom): Column) { (e, rest) =>
        val t = LnSmallKernel.table(e)
        when(num * (1L << e) >= den,
          when(num * (4L << e) < den * 5L, t(0))
            .when(num * (2L << e) < den * 3L, t(1))
            .when(num * (4L << e) < den * 7L, t(2))
            .otherwise(t(3)))
          .otherwise(rest)
      }

  private def grid: Seq[(Long, Long)] = {
    val nums = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L, 63L, 64L, 65L, 999L,
      1000L, 12345L, (1L << 20) - 1, 1L << 20)
    val dens = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 64L, 1000L, 4096L,
      999999L, 1L << 20, (1L << 40) - 1, 1L << 40, (1L << 40) + 1, 1L << 45)
    for { n <- nums; d <- dens; if n <= d } yield (n, d)
  }

  test("native expression equals the reference fold ladder on a dense grid") {
    val df = grid.toDF("num", "den")
    val rows = df.select(
      EventQueries.lnSmallWeight(col("num"), col("den")).as("native"),
      lnSmallWeightRef(col("num"), col("den")).as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("scalar kernel equals both column forms") {
    val viaCol = grid.toDF("num", "den")
      .select(EventQueries.lnSmallWeight(col("num"), col("den"))).collect()
      .map(_.getLong(0)).toSeq
    assert(grid.map { case (n, d) => LnSmallKernel.mnat(n, d) } === viaCol)
  }

  test("exact class boundaries: powers of two land in the bottom mantissa class") {
    // r = 2^-e exactly -> mantissa 1 -> class 0 -> table(e)(0)
    (0 to 40).foreach { e =>
      assert(LnSmallKernel.mnat(1L, 1L << e) === LnSmallKernel.table(e)(0), s"e=$e")
    }
    // below 2^-40: the documented clamp
    assert(LnSmallKernel.mnat(1L, (1L << 41) + 1) === LnSmallKernel.Bottom)
    assert(LnSmallKernel.Bottom === -28072L)
  }

  test("graft_ln_small is callable from SQL") {
    val got = spark.sql("SELECT graft_ln_small(1L, 1024L) AS w").head().getLong(0)
    assert(got === -6820L)
  }

  test("monotone in the ratio: smaller probabilities never score higher") {
    val ws = (0 to 45).map(e => LnSmallKernel.mnat(1L, 1L << e))
    assert(ws === ws.sorted.reverse)
  }
}
