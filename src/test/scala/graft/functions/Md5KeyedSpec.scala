package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_md5_keyed must be byte-identical to the builtin
  * md5(concat(h, ':', s)) chain for every key position — the DuckDB
  * oracles replicate exactly that family, so any divergence here would
  * break q25's hash-match. */
class Md5KeyedSpec extends SparkSpec {

  import spark.implicits._

  test("all 16 keyed digests equal the builtin concat chain on random strings") {
    val rnd = new scala.util.Random(99)
    val alphabet = "abcdefgh XYZ09_#é日" // include multi-byte
    def word() = (0 until (1 + rnd.nextInt(40))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = ((0 until 200).map(_ => word()) :+ "" :+ "a").toDF("s")
    val checked = rows.select(
      expr("graft_md5_keyed(s, 16)").as("fast"),
      array((0 until 16).map(h => md5(concat(lit(h.toString), lit(":"), col("s")))): _*).as("ref"))
    checked.collect().foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("null propagates; key count is validated") {
    val n = Seq(Option.empty[String]).toDF("s")
      .select(expr("graft_md5_keyed(s, 4)")).collect()
    assert(n(0).isNullAt(0))
    val e = intercept[Exception](
      spark.sql("SELECT graft_md5_keyed('x', 0)").collect())
    assert(e.getMessage.toLowerCase.contains("key count") ||
      e.getMessage.toLowerCase.contains("[1, 64]"))
  }

  test("non-literal key count raises a clean analysis error naming the function") {
    // a column is not foldable — the builder must raise NON_FOLDABLE_INPUT
    // instead of dying inside eval() with an opaque Unevaluable error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", 4)).toDF("s", "k")
        .selectExpr("graft_md5_keyed(s, k)").collect()
    }
    assert(e.getMessage.contains("graft_md5_keyed"), e.getMessage)
    assert(e.getMessage.contains("foldable"), e.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("s").selectExpr("graft_lev(s, s, s)").collect()
    }
    assert(e2.getMessage.contains("graft_lev"), e2.getMessage)
    // the DOUBLE threshold of the cell kernels goes through the same check
    val cells = Seq((1L, Seq(1.0, 0.0), 1.0, 0.5)).toDF("id", "v", "nrm", "t")
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      cells.selectExpr("graft_cell_dups(id, v, nrm, t)").collect()
    }
    assert(e3.getMessage.contains("graft_cell_dups"), e3.getMessage)
    assert(e3.getMessage.contains("foldable"), e3.getMessage)
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      cells.selectExpr("graft_cell_top_pairs(id, v, nrm, 'high', 3)").collect()
    }
    assert(e4.getMessage.contains("graft_cell_top_pairs"), e4.getMessage)
    assert(e4.getMessage.contains("DOUBLE"), e4.getMessage)
  }
}
