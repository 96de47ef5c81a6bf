package graft.operators

import graft.SparkSpec
import graft.functions.Log2Kernel
import org.apache.spark.sql.functions._

/** q163 Heaps-law fit: exact end-to-end recomputation in plain Scala
  * at sf0.001 (checkpoints, Q20 logs, Long regression sums, BigInt
  * floor divisions), plus planted corpora pinning the β ordering the
  * metric exists for — closed template vocabulary ≈ 0, all-novel
  * vocabulary ≈ 10⁶ ppm — and the degenerate one-point fit. */
class HeapsLawSpec extends SparkSpec {

  import spark.implicits._

  private val C = 8L

  private def fdiv(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if (a % b != 0 && a.signum * b.signum < 0) q - 1 else q
  }

  /** Plain-Scala replay of the whole q163 contract for one source's
    * docs (already in doc_id order): (n_docs, n_tokens, vocab, n_pts,
    * beta_ppm, log2k_micro) with None for the den=0 guard. */
  private def replay(texts: Seq[String])
      : (Long, Long, Long, Long, Option[Long], Option[Long]) = {
    val toks = texts.map(_.split(" ").filter(_.nonEmpty).toSeq)
    val d = toks.size.toLong
    val cum = toks.scanLeft((0L, Set.empty[String])) { case ((n, seen), t) =>
      (n + t.size, seen ++ t)
    }.tail // index r-1 = after rank r
    val crks = (1L to C).map(c => math.max(1L, d * c / C)).distinct
    val pts = crks.map(r => (cum(r.toInt - 1)._1, cum(r.toInt - 1)._2.size.toLong))
      .filter { case (n, v) => n >= 1 && v >= 1 }
    val xy = pts.map { case (n, v) => (Log2Kernel.q20(n, 1L), Log2Kernel.q20(v, 1L)) }
    val np = xy.size.toLong
    val sx = xy.map(_._1).sum
    val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val num = np * sxy - sx * sy
    val den = np * sxx - sx * sx
    val (beta, logk) =
      if (den > 0) {
        val b = fdiv(BigInt(num) * 1000000, BigInt(den))
        val k = fdiv((BigInt(sy) * den - BigInt(num) * sx) * 1000000,
          BigInt(np) * den * 1048576)
        (Some(b.toLong), Some(k.toLong))
      } else (None, None)
    (d, cum.last._1, cum.last._2.size.toLong, np, beta, logk)
  }

  private def run(dir: String) =
    TextQueries.specs.find(_.name == "q163_heaps_law").get.fn(spark, dir)

  test("sf0.001: every per-source row equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val bySrc = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val got = run(dir).collect()
    assert(got.nonEmpty && got.length === bySrc.size)
    got.foreach { r =>
      val (d, n, v, np, beta, logk) = replay(bySrc(r.getAs[String]("source")))
      assert(r.getAs[Long]("n_docs") === d)
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("vocab") === v)
      assert(r.getAs[Long]("n_pts") === np)
      assert(Option(r.getAs[Any]("beta_ppm")).map(_.asInstanceOf[Long]) === beta)
      assert(Option(r.getAs[Any]("log2k_micro")).map(_.asInstanceOf[Long]) === logk)
    }
  }

  /** q163's spine → vocab → growth → fit chain on a planted corpus. */
  private def planted(rows: Seq[(Long, String, String)]): org.apache.spark.sql.DataFrame = {
    val docs = rows.toDF("doc_id", "source", "text")
    TextQueries.fitGrowth(TextQueries.growthFrom(spark,
      TextQueries.spineOf(docs), TextQueries.vocabOf(docs)))
  }

  test("planted corpora: closed vocabulary fits flat, novel vocabulary fits near 1") {
    val closed = (1L to 16L).map(i => (i, "tmpl", "alpha beta gamma delta"))
    val open = (1L to 16L).map(i =>
      (100 + i, "novel", (1 to 4).map(j => s"w${i}_$j").mkString(" ")))
    val fit = planted(closed ++ open).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("beta_ppm")).toMap
    // closed: V stuck at 4 while N grows 8x across checkpoints -> beta = 0
    assert(fit("tmpl") === 0L)
    // novel: V = N exactly at every checkpoint -> beta = 1.000000
    assert(fit("novel") === 1000000L)
  }

  test("one-doc source: single checkpoint, guarded null fit") {
    val r = planted(Seq((1L, "solo", "a b c"))).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_pts") === 1L)
    assert(r.head.isNullAt(r.head.fieldIndex("beta_ppm")))
    assert(r.head.isNullAt(r.head.fieldIndex("log2k_micro")))
  }
}
