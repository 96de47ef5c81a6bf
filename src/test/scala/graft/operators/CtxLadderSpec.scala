package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q177 context-length ladder: plain-Scala replay of both loader
  * accountings at sf0.001, and a planted two-doc source with
  * hand-computed padding and contamination at every rung. */
class CtxLadderSpec extends SparkSpec {

  import spark.implicits._

  private val ladder = Seq(64L, 128L, 256L, 512L)

  private def run(dir: String) =
    graft.QueryCatalog.all.find(_.name == "q177_context_ladder").get.fn(spark, dir)

  test("sf0.001: every rung equals the plain-Scala replay") {
    val bySrc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(" ").count(_.nonEmpty).toLong))
      .filter(_._3 >= 1)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val got = run("/root/testdata/sf0.001").collect()
      .map(r => r.getAs[Long]("seq_len") -> r).toMap
    assert(got.keySet === ladder.toSet)
    ladder.foreach { l =>
      val r = got(l)
      val all = bySrc.values.flatten
      def ceil(a: Long) = (a + l - 1) / l
      val padChunks = all.map(ceil).sum
      val padTokens = all.map(x => ceil(x) * l - x).sum
      val contaminated = bySrc.values.map { lens =>
        val offs = lens.scanLeft(0L)(_ + _).init
        offs.filter(_ % l != 0).map(_ / l).distinct.size.toLong
      }.sum
      val concatChunks = bySrc.values.map(ls => ceil(ls.sum)).sum
      assert(r.getAs[Long]("n_docs") === all.size.toLong)
      assert(r.getAs[Long]("pad_chunks") === padChunks, s"l=$l")
      assert(r.getAs[Long]("pad_tokens") === padTokens, s"l=$l")
      assert(r.getAs[Long]("pad_waste_ppm") === padTokens * 1000000 / (padChunks * l))
      assert(r.getAs[Long]("concat_chunks") === concatChunks, s"l=$l")
      assert(r.getAs[Long]("concat_tail_pad") ===
        bySrc.values.map(ls => ceil(ls.sum) * l - ls.sum).sum)
      assert(r.getAs[Long]("contaminated_ppm") ===
        contaminated * 1000000 / concatChunks, s"l=$l")
    }
  }

  test("planted 100+28-token source: exact chunks, padding, contamination") {
    val dir = tempDir("ctxladder")
    Seq((1L, (1 to 100).map(i => s"a$i").mkString(" "), "en", "s"),
        (2L, (1 to 28).map(i => s"b$i").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir).collect().map(r => r.getAs[Long]("seq_len") -> r).toMap
    val l64 = got(64L)
    assert(l64.getAs[Long]("pad_chunks") === 3L)     // ceil(100/64)+ceil(28/64)
    assert(l64.getAs[Long]("pad_tokens") === 64L)    // 28 + 36
    assert(l64.getAs[Long]("concat_chunks") === 2L)  // ceil(128/64)
    assert(l64.getAs[Long]("concat_tail_pad") === 0L)
    // doc 2 starts at offset 100 (mid-chunk 1) -> 1 of 2 chunks leak
    assert(l64.getAs[Long]("contaminated_ppm") === 500000L)
    val l128 = got(128L)
    assert(l128.getAs[Long]("pad_chunks") === 2L)
    assert(l128.getAs[Long]("pad_tokens") === 128L)  // 28 + 100
    assert(l128.getAs[Long]("concat_chunks") === 1L)
    assert(l128.getAs[Long]("contaminated_ppm") === 1000000L)
  }
}
