package graft.operators

import graft.SparkSpec
import graft.functions.Log2Kernel
import org.apache.spark.sql.functions._

/** q164 Zipf slope + q165 Good-Turing/Chao1: exact plain-Scala replay
  * of every sf0.001 row, plus planted corpora with hand-computable
  * exact answers — a perfectly collinear dyadic rank-frequency curve
  * (slope −2.000000 on the nose, exercising the signed floor path)
  * and a hapax/dis mix whose Chao1 is integral. */
class ZipfVocabSpec extends SparkSpec {

  import spark.implicits._

  private def fdiv(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if (a % b != 0 && a.signum * b.signum < 0) q - 1 else q
  }

  private val panel = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L)

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("zipfvocab")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String) =
    TextQueries.specs.find(_.name == name).get.fn(spark, dir)

  /** (counts per term, desc-ranked) for one source's texts. */
  private def termCounts(texts: Seq[String]): Seq[Long] =
    texts.flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }.map(_._2)

  private def srcTexts(dir: String): Map[String, Seq[String]] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  test("q164 sf0.001: every row equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val texts = srcTexts(dir)
    val got = run("q164_zipf_slope", dir).collect()
    assert(got.nonEmpty && got.length === texts.size)
    got.foreach { r =>
      val cs = termCounts(texts(r.getAs[String]("source")))
      assert(r.getAs[Long]("vocab") === cs.size.toLong)
      assert(r.getAs[Long]("n_tokens") === cs.sum)
      assert(r.getAs[Long]("top_freq") === cs.head)
      val pts = panel.filter(_ <= cs.size)
        .map(rk => (Log2Kernel.q20(rk, 1L), Log2Kernel.q20(cs(rk.toInt - 1), 1L)))
      assert(r.getAs[Long]("n_pts") === pts.size.toLong)
      val n = pts.size.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val num = n * pts.map(p => p._1 * p._2).sum - sx * sy
      val den = n * pts.map(p => p._1 * p._1).sum - sx * sx
      if (den > 0) {
        assert(r.getAs[Long]("zipf_slope_ppm") ===
          fdiv(BigInt(num) * 1000000, BigInt(den)).toLong)
        assert(r.getAs[Long]("log2c_micro") ===
          fdiv((BigInt(sy) * den - BigInt(num) * sx) * 1000000,
            BigInt(n) * den * 1048576).toLong)
      } else assert(r.isNullAt(r.fieldIndex("zipf_slope_ppm")))
    }
  }

  test("q164 planted collinear dyadic curve: slope exactly -2.000000") {
    // ranks 1,2,4 carry counts 64,16,4 (rank 3's filler count 5 keeps
    // the ordering but is off-panel): three exactly-dyadic points
    // (0,6),(1,4),(2,2) in log2 -> slope -2, intercept 6, both exact
    val text = (Seq.fill(64)("t1") ++ Seq.fill(16)("t2") ++
      Seq.fill(5)("t3") ++ Seq.fill(4)("t4")).mkString(" ")
    val r = run("q164_zipf_slope", writeDocs(Seq((1L, text, "en", "dyad")))).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("vocab") === 4L)
    assert(r.head.getAs[Long]("n_tokens") === 89L)
    assert(r.head.getAs[Long]("top_freq") === 64L)
    assert(r.head.getAs[Long]("n_pts") === 3L)
    assert(r.head.getAs[Long]("zipf_slope_ppm") === -2000000L)
    assert(r.head.getAs[Long]("log2c_micro") === 6000000L)
  }

  test("q165 sf0.001: every row equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val texts = srcTexts(dir)
    val got = run("q165_good_turing", dir).collect()
    assert(got.nonEmpty && got.length === texts.size)
    got.foreach { r =>
      val cs = termCounts(texts(r.getAs[String]("source")))
      val (v, n) = (cs.size.toLong, cs.sum)
      val h = cs.count(_ == 1L).toLong
      val d = cs.count(_ == 2L).toLong
      assert(r.getAs[Long]("vocab") === v)
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("hapax") === h)
      assert(r.getAs[Long]("dis") === d)
      assert(r.getAs[Long]("unseen_mass_ppm") === h * 1000000 / n)
      assert(r.getAs[Long]("coverage_ppm") === (n - h) * 1000000 / n)
      assert(r.getAs[Long]("hapax_vocab_ppm") === h * 1000000 / v)
      assert(r.getAs[Long]("chao1_vocab") === v + h * (h - 1) / (2 * (d + 1)))
    }
  }

  test("q165 planted mix: hand-computed Good-Turing and Chao1") {
    // 3 hapax + 2 dis + one 5x term: V=6, N=12, N1=3, N2=2
    val text = "h1 h2 h3 d1 d1 d2 d2 x x x x x"
    val r = run("q165_good_turing", writeDocs(Seq((1L, text, "en", "gt")))).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("vocab") === 6L)
    assert(r.head.getAs[Long]("n_tokens") === 12L)
    assert(r.head.getAs[Long]("hapax") === 3L)
    assert(r.head.getAs[Long]("dis") === 2L)
    assert(r.head.getAs[Long]("unseen_mass_ppm") === 250000L)
    assert(r.head.getAs[Long]("coverage_ppm") === 750000L)
    assert(r.head.getAs[Long]("hapax_vocab_ppm") === 500000L)
    assert(r.head.getAs[Long]("chao1_vocab") === 7L) // 6 + 3*2/(2*3)
  }

  test("q165 all-hapax source: Chao1 projects far beyond the observed vocabulary") {
    val r = run("q165_good_turing",
      writeDocs(Seq((1L, (1 to 9).map(i => s"u$i").mkString(" "), "en", "nov")))).collect()
    assert(r.head.getAs[Long]("unseen_mass_ppm") === 1000000L)
    assert(r.head.getAs[Long]("coverage_ppm") === 0L)
    assert(r.head.getAs[Long]("chao1_vocab") === 9L + 9L * 8L / 2L)
  }

  test("q166 sf0.001: the top-20 burstiness board equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nDocs = docs.length.toLong
    val board = docs
      .flatMap { case (id, t) => t.split(" ").filter(_.nonEmpty).map((_, id)) }
      .groupBy(_._1).toSeq
      .map { case (term, xs) => (term, xs.size.toLong, xs.map(_._2).distinct.size.toLong) }
      .filter(_._2 >= 8L)
      .map { case (term, cf, df) =>
        (term, cf, df, cf * 1000 / df, df * 1000000 / nDocs) }
      .sortBy { case (term, _, _, b, _) => (-b, term) }
      .take(20)
    val got = run("q166_burstiness", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === board)
  }

  test("q166 planted: a clumped term outranks an evenly-spread one 8:1") {
    val dir = writeDocs(
      Seq((1L, Seq.fill(8)("burst").mkString(" "), "en", "s")) ++
        (2L to 9L).map(i => (i, "flat", "en", "s")))
    val got = run("q166_burstiness", dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got("burst") === 8000L) // cf 8 in 1 doc
    assert(got("flat") === 1000L)  // cf 8 over 8 docs
  }

  test("q167 sf0.001: discounts equal the plain-Scala replay at every order") {
    val dir = "/root/testdata/sf0.001"
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    val got = run("q167_kn_discounts", dir).collect()
      .map(r => r.getAs[Long]("n") -> r).toMap
    (1 to 3).foreach { n =>
      val grams = texts.flatMap { t =>
        val ts = t.split(" ").filter(_.nonEmpty)
        if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSeq else Seq.empty
      }
      val cs = grams.groupBy(identity).values.map(_.size.toLong).toSeq
      val r = got(n.toLong)
      assert(r.getAs[Long]("distinct_grams") === cs.size.toLong, s"n=$n")
      assert(r.getAs[Long]("total_grams") === cs.sum, s"n=$n")
      val Seq(n1, n2, n3, n4) = (1L to 4L).map(c => cs.count(_ == c).toLong)
      assert(r.getAs[Long]("n1") === n1)
      assert(r.getAs[Long]("n2") === n2)
      assert(r.getAs[Long]("n3") === n3)
      assert(r.getAs[Long]("n4") === n4)
      def opt(cn: String) = Option(r.getAs[Any](cn)).map(_.asInstanceOf[Long])
      val s12 = n1 + 2 * n2
      assert(opt("y_milli") === (if (s12 > 0) Some(n1 * 1000 / s12) else None))
      assert(opt("d1_milli") === opt("y_milli"))
      assert(opt("d2_milli") === (if (n2 > 0 && s12 > 0)
        Some(fdiv(BigInt(2 * n2 * s12 - 3 * n1 * n3) * 1000, BigInt(n2 * s12)).toLong)
      else None))
      assert(opt("d3_milli") === (if (n3 > 0 && s12 > 0)
        Some(fdiv(BigInt(3 * n3 * s12 - 4 * n1 * n4) * 1000, BigInt(n3 * s12)).toLong)
      else None))
    }
  }

  test("q169 sf0.001: log-length moments equal the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val bySrc = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").count(_.nonEmpty).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val got = run("q169_loglen_fit", dir).collect()
    assert(got.length === bySrc.size)
    got.foreach { r =>
      val lens = bySrc(r.getAs[String]("source"))
      val xs = lens.filter(_ >= 1).map(Log2Kernel.q20(_, 1L))
      val n = xs.size.toLong
      assert(r.getAs[Long]("n_docs") === lens.size.toLong)
      assert(r.getAs[Long]("n_fit") === n)
      assert(r.getAs[Long]("min_len") === lens.min)
      assert(r.getAs[Long]("max_len") === lens.max)
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * x).sum
      assert(r.getAs[Long]("mean_log2len_micro") ===
        fdiv(sx * 1000000, BigInt(n) * 1048576).toLong)
      assert(r.getAs[Long]("var_log2len_milli") ===
        fdiv((n * sxx - sx * sx) * 1000, BigInt(n) * n * BigInt(1L << 40)).toLong)
    }
  }

  test("q169 planted dyadic lengths: exact moments, zero-length doc excluded from fit") {
    // lengths 4 and 16 -> x = 2, 4 in log2 units: mean 3.000000,
    // var ((2-3)^2+(4-3)^2)/2 = 1.000 exactly; the empty doc counts
    // in n_docs/min_len only
    val dir = writeDocs(Seq(
      (1L, (1 to 4).map(i => s"a$i").mkString(" "), "en", "s"),
      (2L, (1 to 16).map(i => s"b$i").mkString(" "), "en", "s"),
      (3L, "", "en", "s")))
    val r = run("q169_loglen_fit", dir).collect().head
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_fit") === 2L)
    assert(r.getAs[Long]("min_len") === 0L)
    assert(r.getAs[Long]("max_len") === 16L)
    assert(r.getAs[Long]("mean_log2len_micro") === 3000000L)
    assert(r.getAs[Long]("var_log2len_milli") === 1000L)
  }

  test("q176 sf0.001: entropy bound equals the plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val texts = srcTexts(dir)
    val chars = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = run("q176_entropy_bound", dir).collect()
    assert(got.length === texts.size)
    got.foreach { r =>
      val cs = termCounts(texts(r.getAs[String]("source")))
      val n = cs.sum
      val tb = cs.map(c => BigInt(c) * Log2Kernel.q20(n, c)).sum
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("vocab") === cs.size.toLong)
      assert(r.getAs[Long]("h0_microbits") ===
        (tb * 1000000 / (BigInt(n) * 1048576)).toLong)
      assert(r.getAs[Long]("bound_bytes") === (tb / (8 * 1048576)).toLong)
      val raw = chars(r.getAs[String]("source"))
      assert(r.getAs[Long]("raw_bytes") === raw)
      assert(r.getAs[Long]("bound_ppm") ===
        r.getAs[Long]("bound_bytes") * 1000000 / raw)
    }
  }

  test("q176 planted uniform-4 vocabulary: exactly 2 bits per token") {
    val dir = writeDocs(Seq(
      (1L, Seq.fill(16)("aa bb cc dd").mkString(" "), "en", "u4")))
    val r = run("q176_entropy_bound", dir).collect().head
    assert(r.getAs[Long]("n_tokens") === 64L)
    assert(r.getAs[Long]("vocab") === 4L)
    assert(r.getAs[Long]("h0_microbits") === 2000000L) // log2(4) exactly
    assert(r.getAs[Long]("bound_bytes") === 16L)       // 64 * 2 / 8
  }

  test("q167 planted skew: D2 goes exactly negative through the floor path") {
    // two-token docs = one bigram each: 10 unique, 1 doubled, 10 tripled
    // -> order-2 counts n1=10, n2=1, n3=10, n4=0, so
    // Y = D1 = floor(10000/12) = 833, D2 = (24-300)*1000/12 = -23000,
    // D3+ = 360*1000/120 = 3000; no trigrams exist at all
    var id = 0L
    def doc(text: String) = { id += 1; (id, text, "en", "s") }
    val rows =
      (1 to 10).map(i => doc(s"u$i v$i")) ++
        (1 to 2).map(_ => doc("p0 q0")) ++
        (1 to 10).flatMap(i => (1 to 3).map(_ => doc(s"a$i b$i")))
    val got = run("q167_kn_discounts", writeDocs(rows)).collect()
      .map(r => r.getAs[Long]("n") -> r).toMap
    assert(!got.contains(3L))
    val r2 = got(2L)
    assert(r2.getAs[Long]("n1") === 10L && r2.getAs[Long]("n2") === 1L &&
      r2.getAs[Long]("n3") === 10L && r2.getAs[Long]("n4") === 0L)
    assert(r2.getAs[Long]("y_milli") === 833L)
    assert(r2.getAs[Long]("d1_milli") === 833L)
    assert(r2.getAs[Long]("d2_milli") === -23000L)
    assert(r2.getAs[Long]("d3_milli") === 3000L)
  }
}
