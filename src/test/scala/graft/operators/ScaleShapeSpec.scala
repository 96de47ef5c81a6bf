package graft.operators

import graft.SparkSpec

/** Scale-shape contract from the 100× replica sweep: queries whose
  * join sides GROW WITH THE CORPUS (per-doc size frames, vocabulary
  * counts, node degrees, candidate-pair sets) must not carry static
  * broadcast hints — at bench scale AQE runtime-broadcasts them
  * anyway, and at 100 TB an unconditional N-row broadcast is a driver
  * OOM. This pins the LOGICAL plan free of ResolvedHint so the hints
  * can't silently come back; the bounded-side hints that SHOULD exist
  * (q55's benchmark set, 8-row eval panels, 1-row totals) live in
  * other queries and keep their own pins (CorpusPlanShapeSpec).
  */
class ScaleShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** query → number of ResolvedHints its plan is ALLOWED to carry
    * (only provably bounded sides: q68's 1-row corpus total). */
  private val allowedHints = Seq(
    "q25_minhash_lsh"         -> 0, // sizes (row per doc), candidate pairs
    "q106_lsh_precision"      -> 0, // sizes, band-agreement candidates
    "q84_incremental_neardup" -> 0, // sizes over the posting index
    "q68_cooccurrence_lift"   -> 1, // vocab counts unhinted; 1-row total stays
    "q80_pagerank_neardup"    -> 0) // per-node degree frame

  allowedHints.foreach { case (name, allowed) =>
    test(s"$name carries no static broadcast hint on its corpus-growing joins") {
      val fn = graft.QueryCatalog.all.find(_.name == name).get.fn
      val analyzed = fn(spark, dir).queryExecution.analyzed.toString
      val hints = "ResolvedHint".r.findAllIn(analyzed).length
      assert(hints <= allowed,
        s"$name reintroduced a static broadcast hint ($hints > $allowed) — " +
          s"corpus-growing sides must stay AQE-conditional:\n$analyzed")
    }
  }

  test("Scale.bytes sees a table that grew in place under the same dir") {
    import scala.jdk.CollectionConverters._
    val d = tempDir("scalebytes")
    def write(rows: Long): Long = {
      spark.range(rows).selectExpr("id AS doc_id", "repeat('x', 64) AS text")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(java.nio.file.Files.size).sum
    }
    val small = write(10)
    assert(Scale.bytes(spark, d) === small)
    val grown = write(100000)
    assert(grown > small)
    assert(Scale.bytes(spark, d) === grown, "stale byte total served after an in-place rewrite")
  }
}
