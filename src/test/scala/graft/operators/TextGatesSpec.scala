package graft.operators

import graft.SparkSpec
import graft.functions.LnSmallKernel
import org.apache.spark.sql.functions._

/** q110 boilerplate-segment profile and q111 entropy gate over planted
  * fixture corpora (the testdata twins are oracle-checked by the driver;
  * these pin the BEHAVIOR: what gets flagged, what the exact integer
  * entropy of a known distribution is).
  */
class TextGatesSpec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("textgates")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String) =
    TextQueries.specs.find(_.name == name).get.fn(spark, dir)

  // ------------------------------------------------------------- q110
  test("q110 flags same-source repeated chunks, never cross-source ones") {
    // srcA: docs 1/2 share the aligned leading chunk "c1 c2 c3";
    // srcB's doc 4 contains the same chunk — different source, not
    // boilerplate there. Trailing partials (doc 3's "x y") never count.
    val dir = writeDocs(Seq(
      (1L, "c1 c2 c3 a1 a2 a3", "en", "srcA"),
      (2L, "c1 c2 c3 b1 b2 b3", "en", "srcA"),
      (3L, "u1 u2 u3 v1 v2 v3 x y", "en", "srcA"),
      (4L, "c1 c2 c3 d1 d2 d3", "en", "srcB"),
    ))
    val bySrc = run("q110_boilerplate_profile", dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = bySrc("srcA")
    assert(a.getAs[Long]("n_docs") === 3L)
    assert(a.getAs[Long]("total_tokens") === 20L)
    assert(a.getAs[Long]("n_segments") === 6L) // 2+2+2 full chunks
    assert(a.getAs[Long]("n_boiler_segs") === 1L) // the shared "c1 c2 c3"
    assert(a.getAs[Long]("removed_tokens") === 6L) // 2 instances × 3 tokens
    assert(a.getAs[Long]("boiler_ppm") === 6L * 1000000L / 20L)
    val b = bySrc("srcB")
    assert(b.getAs[Long]("n_boiler_segs") === 0L, "cross-source chunk flagged")
    assert(b.getAs[Long]("removed_tokens") === 0L)
  }

  test("q110 same-doc repetition alone is not boilerplate (df counts DOCS)") {
    // one doc repeating its own chunk: occ = 2 but df = 1 → not flagged
    val dir = writeDocs(Seq(
      (1L, "r1 r2 r3 r1 r2 r3", "en", "srcA"),
      (2L, "z1 z2 z3 z4 z5 z6", "en", "srcA"),
    ))
    val a = run("q110_boilerplate_profile", dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap.apply("srcA")
    assert(a.getAs[Long]("n_boiler_segs") === 0L)
    assert(a.getAs[Long]("removed_tokens") === 0L)
  }

  // ------------------------------------------------------------- q111
  test("q111 entropy of known distributions matches the ladder exactly") {
    val dir = writeDocs(Seq(
      (1L, Seq.fill(8)("same").mkString(" "), "en", "s"), // degenerate
      (2L, (1 to 8).map(i => s"w$i").mkString(" "), "en", "s"), // uniform-8
      (3L, "a a a a b b c d", "en", "s"), // mixed 4/2/1/1
    ))
    val rows = run("q111_entropy_gate", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    // degenerate: true H = 0; the c = N ladder class is +112 mnats and
    // the documented clamp pins the result to exactly 0, keep = false
    assert(rows(1L).getAs[Long]("entropy_mnat") === 0L)
    assert(!rows(1L).getAs[Boolean]("keep"))
    assert(rows(1L).getAs[Long]("vocab") === 1L)

    // uniform over 8 types: H = -8·mnat(1,8)/8 = -mnat(1,8) ≈ ln 8
    val u8 = -LnSmallKernel.mnat(1, 8)
    assert(rows(2L).getAs[Long]("entropy_mnat") === u8)
    assert(u8 >= 1900 && u8 <= 2200, s"ladder ln8 out of family: $u8")

    // mixed: exact integer recomputation through the same kernel
    val mixed = -(4 * LnSmallKernel.mnat(4, 8) + 2 * LnSmallKernel.mnat(2, 8) +
      1 * LnSmallKernel.mnat(1, 8) + 1 * LnSmallKernel.mnat(1, 8)) / 8
    assert(rows(3L).getAs[Long]("entropy_mnat") === mixed)
  }

  test("q111 keep gate splits the testdata corpus non-trivially") {
    val rows = run("q111_entropy_gate", "/root/testdata/sf0.001").collect()
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length,
      s"gate is degenerate: $kept of ${rows.length} kept")
    // every doc respects the threshold definition
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep") === (r.getAs[Long]("entropy_mnat") >= 2800L))
    }
  }

  test("q134 distinct-n-gram diversity equals an exact driver recomputation") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"text").as[(String, String)].collect()
    val expected = (for {
      (src, rows) <- docs.groupBy(_._1).toSeq
      n <- 1 to 3
    } yield {
      val grams = rows.toSeq.flatMap { case (_, text) =>
        val t = text.split(" ", -1).toSeq
        if (t.size < n) Seq.empty
        else (0 to t.size - n).map(i => t.slice(i, i + n).mkString(" "))
      }
      (src, n) -> ((grams.size.toLong, grams.distinct.size.toLong))
    }).toMap
    val got = run("q134_ngram_diversity", dir).collect()
    assert(got.map(r => (r.getAs[String]("source"), r.getAs[Int]("n"))).toSet ===
      expected.keySet)
    got.foreach { r =>
      val key = (r.getAs[String]("source"), r.getAs[Int]("n"))
      val (tot, dist) = expected(key)
      assert(r.getAs[Long]("total_grams") === tot, s"$key total")
      assert(r.getAs[Long]("distinct_grams") === dist, s"$key distinct")
      assert(r.getAs[Long]("distinct_ppm") === dist * 1000000L / tot, s"$key ppm")
    }
    // a templated doc must depress distinct-2 below a diverse one
    val fix = writeDocs(Seq(
      (1L, Seq.fill(40)("spam ham").mkString(" "), "en", "tmpl"),
      (2L, (1 to 80).map(i => s"w$i").mkString(" "), "en", "fresh")))
    val byKey = run("q134_ngram_diversity", fix).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("n")) ->
        r.getAs[Long]("distinct_ppm")).toMap
    assert(byKey(("tmpl", 2)) < byKey(("fresh", 2)))
    assert(byKey(("tmpl", 3)) < byKey(("fresh", 3)))
  }
}
