package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q173 Neyman allocation: plain-Scala replay at sf0.001 (floor
  * variance, exact isqrt, largest remainder), exact-K sums, and a
  * planted zero-variance source that Neyman correctly starves. */
class NeymanSpec extends SparkSpec {

  import spark.implicits._

  private def isqrt(n: Long): Long = {
    val s0 = math.floor(math.sqrt(n.toDouble)).toLong
    s0 + (if ((s0 + 1) * (s0 + 1) <= n) 1 else 0) - (if (s0 * s0 > n) 1 else 0)
  }

  private def lr(k: Long, w: Map[String, Long]): Map[String, Long] = {
    val tot = w.values.sum
    val base = w.map { case (s, x) => s -> (BigInt(k) * x / tot).toLong }
    val rem = w.map { case (s, x) => s -> (BigInt(k) * x % tot).toLong }
    val short = k - base.values.sum
    w.keys.toSeq.sortBy(s => (-rem(s), s)).zipWithIndex
      .map { case (s, i) => s -> (base(s) + (if (i < short) 1L else 0L)) }.toMap
  }

  private def run(dir: String) =
    graft.QueryCatalog.all.find(_.name == "q173_neyman_allocation").get.fn(spark, dir)

  test("sf0.001: every row equals the plain-Scala replay; both splits sum to K") {
    val dir = "/root/testdata/sf0.001"
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").count(_.nonEmpty).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val stats = lens.map { case (s, xs) =>
      val n = xs.size.toLong
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * x).sum
      val vr = ((n * sxx - sx * sx) / (BigInt(n) * n)).toLong
      (s, n, vr, isqrt(vr))
    }
    val ney = lr(1000L, stats.map(t => t._1 -> t._2 * t._4).toMap)
    val prop = lr(1000L, stats.map(t => t._1 -> t._2).toMap)
    val got = run(dir).collect()
    assert(got.map(_.getAs[Long]("neyman_n")).sum === 1000L)
    assert(got.map(_.getAs[Long]("prop_n")).sum === 1000L)
    got.foreach { r =>
      val s = r.getAs[String]("source")
      val st = stats.find(_._1 == s).get
      assert(r.getAs[Long]("n_docs") === st._2)
      assert(r.getAs[Long]("len_var") === st._3, s)
      assert(r.getAs[Long]("len_sd") === st._4, s)
      assert(r.getAs[Long]("neyman_n") === ney(s), s)
      assert(r.getAs[Long]("prop_n") === prop(s), s)
      assert(r.getAs[Long]("shift") === ney(s) - prop(s))
    }
  }

  test("planted: a zero-variance source is starved, the varied one takes all") {
    val dir = tempDir("neyman")
    val rows =
      (1L to 10L).map(i => (i, "a b c d", "en", "flat")) ++ // every doc 4 tokens
        (11L to 20L).map(i =>
          (i, (1L to (if (i % 2 == 0) 2L else 62L)).map(j => s"w$j").mkString(" "),
            "en", "wild"))
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir).collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(got("flat").getAs[Long]("len_var") === 0L)
    assert(got("flat").getAs[Long]("neyman_n") === 0L)
    assert(got("wild").getAs[Long]("neyman_n") === 1000L)
    // proportional ignores variance entirely: even split
    assert(got("flat").getAs[Long]("prop_n") === 500L)
  }
}
