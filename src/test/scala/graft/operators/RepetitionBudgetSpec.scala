package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q170 repetition-budget audit: plain-Scala replay of the whole
  * allocation + cap pipeline at sf0.001, and a hand-computed skewed
  * corpus where the √-temperature mix pushes the small source past 4
  * epochs at budget 1× already. */
class RepetitionBudgetSpec extends SparkSpec {

  import spark.implicits._

  private def isqrt(n: Long): Long = {
    val s0 = math.floor(math.sqrt(n.toDouble)).toLong
    s0 + (if ((s0 + 1) * (s0 + 1) <= n) 1 else 0) - (if (s0 * s0 > n) 1 else 0)
  }

  /** (budget_x -> (n_over_cap, over_mass, effective)) replay. */
  private def replay(sizes: Map[String, Long]): Map[Long, (Long, Long, Long)] = {
    val tt = sizes.values.sum
    val ws = sizes.view.mapValues(isqrt).toMap
    val tw = ws.values.sum
    Seq(1L, 2L, 4L, 8L).map { m =>
      val b = m * tt
      val base = sizes.keys.map(s => s -> (BigInt(b) * ws(s) / tw).toLong).toMap
      val rem = sizes.keys.map(s => s -> (BigInt(b) * ws(s) % tw).toLong).toMap
      val short = b - base.values.sum
      val topped = sizes.keys.toSeq.sortBy(s => (-rem(s), s)).zipWithIndex
        .map { case (s, i) => s -> (base(s) + (if (i < short) 1L else 0L)) }.toMap
      val caps = sizes.view.mapValues(_ * 4L).toMap
      val over = sizes.keys.count(s => topped(s) > caps(s)).toLong
      // keys is a Set: map through a Seq or duplicate values collapse
      val mass = sizes.keys.toSeq.map(s => math.max(0L, topped(s) - caps(s))).sum
      val eff = sizes.keys.toSeq.map(s => math.min(topped(s), caps(s))).sum
      m -> (over, mass, eff)
    }.toMap
  }

  private def run(dir: String) =
    graft.QueryCatalog.all.find(_.name == "q170_repetition_budget").get.fn(spark, dir)

  test("sf0.001: every budget row equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val sizes = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = replay(sizes)
    val rows = run(dir).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val m = r.getAs[Long]("budget_x")
      val (over, mass, eff) = want(m)
      assert(r.getAs[Long]("budget_tokens") === m * sizes.values.sum)
      assert(r.getAs[Long]("n_sources") === sizes.size.toLong)
      assert(r.getAs[Long]("n_over_cap") === over, s"m=$m")
      assert(r.getAs[Long]("over_mass_tokens") === mass, s"m=$m")
      assert(r.getAs[Long]("effective_tokens") === eff, s"m=$m")
      assert(r.getAs[Long]("effective_ppm") ===
        (BigInt(eff) * 1000000 / (m * sizes.values.sum)).toLong, s"m=$m")
    }
  }

  test("planted skew: sqrt-mix pushes the small source over 4 epochs at 1x") {
    // big 10000 tokens (w=100), small 100 (w=10): at m=1 the small
    // source draws 918 tokens = 9.18 epochs; big gets the remainder
    // top-up (rem 90 vs 20). Hand-computed: over=1, mass=518,
    // effective=9582 of 10100 -> 948712 ppm
    val dir = tempDir("repbudget")
    Seq(
      (1L, Seq.fill(10000)("t").mkString(" "), "en", "big"),
      (2L, Seq.fill(100)("u").mkString(" "), "en", "small"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r1 = run(dir).collect().head
    assert(r1.getAs[Long]("budget_x") === 1L)
    assert(r1.getAs[Long]("budget_tokens") === 10100L)
    assert(r1.getAs[Long]("n_over_cap") === 1L)
    assert(r1.getAs[Long]("over_mass_tokens") === 518L)
    assert(r1.getAs[Long]("effective_tokens") === 9582L)
    assert(r1.getAs[Long]("effective_ppm") === 948712L)
  }
}
