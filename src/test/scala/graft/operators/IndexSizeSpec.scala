package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q171 index-size estimate: plain-Scala replay of the gap/bitlen
  * accounting at sf0.001, and a planted two-term corpus with
  * hand-computed Elias-γ and varint sizes. */
class IndexSizeSpec extends SparkSpec {

  import spark.implicits._

  private def run(dir: String) =
    graft.QueryCatalog.all.find(_.name == "q171_index_size_estimate").get
      .fn(spark, dir)

  private def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)

  test("sf0.001: every bucket equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val postings = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty).distinct
        .map(t => (t, r.getLong(0))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val byBucket = postings.toSeq.groupBy { case (_, ds) => bitlen(ds.size.toLong) }
    val got = run(dir).collect().map(r => r.getAs[Long]("df_log2_bucket") -> r).toMap
    assert(got.keySet === byBucket.keySet)
    byBucket.foreach { case (bkt, terms) =>
      val r = got(bkt)
      val gaps = terms.flatMap { case (_, ds) =>
        (Seq(-1L) ++ ds).sliding(2).map(p => p(1) - p(0)).toSeq
      }
      assert(r.getAs[Long]("n_terms") === terms.size.toLong, s"bkt=$bkt")
      assert(r.getAs[Long]("n_postings") === gaps.size.toLong, s"bkt=$bkt")
      val gbits = gaps.map(g => 2 * bitlen(g) - 1).sum
      assert(r.getAs[Long]("raw_bytes") === gaps.size * 8L)
      assert(r.getAs[Long]("gamma_bytes") === (gbits + 7) / 8, s"bkt=$bkt")
      assert(r.getAs[Long]("varint_bytes") === gaps.map(g => (bitlen(g) + 6) / 7).sum)
      assert(r.getAs[Long]("gamma_ppm") === (gbits + 7) / 8 * 1000000 / (gaps.size * 8))
    }
  }

  test("planted: dense gaps crush under gamma, a rare term stays near-raw") {
    val dir = tempDir("idxsize")
    (0L to 7L).map(i => (i, if (i == 5L) "common rare" else "common", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir).collect().map(r => r.getAs[Long]("df_log2_bucket") -> r).toMap
    // common: df 8 -> bucket 4; gaps all 1 (first: 0-(-1)) -> 8 gamma
    // bits = 1 byte vs 64 raw; varint 8 bytes
    val dense = got(4L)
    assert(dense.getAs[Long]("n_postings") === 8L)
    assert(dense.getAs[Long]("gamma_bytes") === 1L)
    assert(dense.getAs[Long]("varint_bytes") === 8L)
    assert(dense.getAs[Long]("gamma_ppm") === 15625L)
    assert(dense.getAs[Long]("varint_ppm") === 125000L)
    // rare: df 1 -> bucket 1; one gap of 6 (blen 3): gamma 5 bits -> 1
    // byte of 8 raw
    val rare = got(1L)
    assert(rare.getAs[Long]("n_postings") === 1L)
    assert(rare.getAs[Long]("gamma_bytes") === 1L)
    assert(rare.getAs[Long]("varint_bytes") === 1L)
    assert(rare.getAs[Long]("gamma_ppm") === 125000L)
  }
}
