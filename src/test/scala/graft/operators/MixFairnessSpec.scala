package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q114 UniMax epoch-capped allocation + q115 tokenizer fertility —
  * the multilingual-fairness pair. The driver oracle checks the SQL
  * twins; these pin the BEHAVIOR: the closed-form waterfill against an
  * independent iterative waterfiller, and the fertility invariants.
  */
class MixFairnessSpec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("mixfair")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get.fn

  /** Independent ITERATIVE waterfiller (the definition, not the
    * query's closed form): repeatedly cap the smallest-cap language
    * while its cap fits under an equal split of the remaining budget;
    * split what's left to the token with largest-remainder +1s. */
  private def refWaterfill(
      perLang: Seq[(String, Long)], epochCap: Long, budget: Long,
  ): Map[String, (Long, Boolean)] = {
    var uncapped = perLang.map { case (l, n) => (l, epochCap * n) }
      .sortBy { case (l, c) => (c, l) }
    var rem = budget
    var out = Map.empty[String, (Long, Boolean)]
    var progress = true
    while (progress && uncapped.nonEmpty) {
      val (l, c) = uncapped.head
      if (c * uncapped.size <= rem) {
        out += l -> (c, true); rem -= c; uncapped = uncapped.tail
      } else progress = false
    }
    val u = uncapped.size
    if (u > 0) {
      val base = rem / u
      val extra = (rem % u).toInt
      uncapped.zipWithIndex.foreach { case ((l, c), i) =>
        out += l -> (base + (if (i < extra) 1L else 0L), false)
      }
    }
    out
  }

  test("q114 closed form == iterative waterfill on randomized corpora") {
    val rng = new scala.util.Random(43)
    (1 to 4).foreach { trial =>
      val langs = Seq("aa", "bb", "cc", "dd", "ee", "ff").take(2 + rng.nextInt(5))
      val rows = langs.zipWithIndex.flatMap { case (l, li) =>
        val nDocs = 1 + rng.nextInt(6)
        (0 until nDocs).map { d =>
          val nTok = 1 + rng.nextInt(40)
          ((li * 100 + d).toLong,
            (1 to nTok).map(t => s"w$t").mkString(" "), l, "src0")
        }
      }
      val dir = writeDocs(rows)
      val perLang = rows.groupBy(_._3).map { case (l, rs) =>
        l -> rs.map(_._2.split(" ").length.toLong).sum
      }.toSeq.sortBy(_._1)
      val total = perLang.map(_._2).sum
      val expected = refWaterfill(perLang, 2L, 3L * total / 2L)
      val got = q("q114_unimax_mix")(spark, dir).collect()
        .map(r => r.getAs[String]("lang") ->
          (r.getAs[Long]("alloc"), r.getAs[Boolean]("capped"))).toMap
      assert(got === expected, s"trial $trial: perLang=$perLang")
    }
  }

  test("q114 on testdata: exact budget conservation, caps bind low-resource") {
    val rows = q("q114_unimax_mix")(spark, "/root/testdata/sf0.001").collect()
    val total = rows.map(_.getAs[Long]("n_tok")).sum
    val budget = 3L * total / 2L
    // budget (1.5 epochs) < Σcap (2 epochs) structurally → never all
    // capped → the allocation must land the budget EXACTLY
    assert(rows.map(_.getAs[Long]("alloc")).sum === budget)
    val (capped, uncapped) = rows.partition(_.getAs[Boolean]("capped"))
    assert(capped.nonEmpty, "no language hit its epoch cap")
    assert(uncapped.nonEmpty, "every language capped — budget math broken")
    // en is the head language of the synthetic corpus: it must absorb
    // the overflow uncapped, below 2 epochs
    val en = rows.find(_.getAs[String]("lang") == "en").get
    assert(!en.getAs[Boolean]("capped"))
    assert(en.getAs[Long]("epochs_milli") < 2000L)
    capped.foreach { r =>
      assert(r.getAs[Long]("alloc") === r.getAs[Long]("cap"))
      assert(r.getAs[Long]("epochs_milli") === 2000L)
    }
    // uncapped languages sit at one shared water level (±1 token)
    val allocs = uncapped.map(_.getAs[Long]("alloc"))
    assert(allocs.max - allocs.min <= 1L)
  }

  test("q115 fertility invariants and en baseline") {
    val rows = q("q115_bpe_fertility")(spark, "/root/testdata/sf0.001").collect()
    val en = rows.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Double]("premium_vs_en") === 1.0)
    rows.foreach { r =>
      // a word is at least one BPE token
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Double]("premium_vs_en") > 0.0)
    }
    // same dictionary, same corpus: lang-axis totals == q92's source-axis
    val q92Rows = q("q92_bpe_tokenize")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).sum ===
      q92Rows.map(_.getAs[Long]("n_bpe_tokens")).sum)
    assert(rows.map(_.getAs[Long]("n_words")).sum ===
      q92Rows.map(_.getAs[Long]("n_words")).sum)
  }
}
