package graft.operators

import graft.SparkSpec

/** The dedup kernel's posting-list intermediate is a real INDEX: write
  * it to parquet, reload it in a fresh frame, and the pair kernel over
  * the reloaded index reproduces the live pair set byte-for-byte. This
  * is the production shape for both the nightly full dedup (index
  * shared by jaccard/containment/CC/funnel — see CorpusPipeline) and
  * q84's incremental ingest (the standing corpus index between runs). */
class PostingIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def pairsOf(stats: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    DedupQueries.jaccardFrom(stats).collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)

  test("parquet round-trip of the posting index reproduces the live pair set") {
    val tmp = tempDir("posting_idx")
    DedupQueries.postingIndex(spark, dir)
      .write.mode("overwrite").parquet(tmp)
    val live = pairsOf(DedupQueries.pairStats(spark, dir))
    val reloaded = pairsOf(DedupQueries.pairStatsFrom(spark.read.parquet(tmp)))
    assert(reloaded === live)
    assert(live.nonEmpty, "fixture must actually produce near-dup pairs")
  }

  test("the index is compact: one row per rare shingle, sorted postings") {
    val idx = DedupQueries.postingIndex(spark, dir).collect()
    idx.foreach { r =>
      val ds = r.getSeq[Long](1)
      assert(ds.size <= 25, "df cap must bound posting length")
      assert(ds === ds.sorted, "postings must be stored sorted (pair-gen relies on it)")
    }
    assert(idx.map(_.getString(0)).distinct.length === idx.length)
  }
}
