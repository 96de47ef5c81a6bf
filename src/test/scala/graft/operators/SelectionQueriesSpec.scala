package graft.operators

import graft.SparkSpec
import graft.streaming.QualityStream
import org.apache.spark.sql.functions._

/** DSIR importance weighting: the selected set must be ENRICHED in the
  * target domain (the whole point of importance resampling), logits
  * must be exact integer milli-nat sums, and the per-source rollup
  * must account for every doc. */
class SelectionQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("selected docs are enriched in the target domain") {
    val rows = SelectionQueries.docLogits(spark, dir)
      .select(col("tgt"), (col("logit") > 0).as("sel")).collect()
    val all = rows.length
    val tgtRate = rows.count(_.getBoolean(0)).toDouble / all
    val sel = rows.filter(_.getBoolean(1))
    assert(sel.nonEmpty && sel.length < all, "selection must be non-trivial")
    val selTgtRate = sel.count(_.getBoolean(0)).toDouble / sel.length
    assert(selTgtRate > tgtRate,
      f"selected target-rate $selTgtRate%.2f must exceed corpus rate $tgtRate%.2f")
    // and the rejected remainder is correspondingly depleted
    val rej = rows.filterNot(_.getBoolean(1))
    val rejTgtRate = rej.count(_.getBoolean(0)).toDouble / rej.length
    assert(rejTgtRate < tgtRate)
  }

  test("every target doc scores at least as high as the logit it gets from raw alone") {
    // target docs contain >=2 'window' tokens whose bucket weight is
    // positive (the target model is denser there by construction), so
    // the MEAN target logit must exceed the mean non-target logit
    val byTgt = SelectionQueries.docLogits(spark, dir)
      .groupBy(col("tgt")).agg(avg(col("logit")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byTgt(true) > byTgt(false))
  }

  test("small-ratio ladder: exact milli-nat pins") {
    import spark.implicits._
    // hand-computed: e=0/class0 → +112; 1/3 → e=2, m=4/3, class1 →
    // round(1000·(½ln(15/8) − 2ln2)) = −1072; 1/1024 → e=10/class0 →
    // 112 − 10·693.147 → −6820; below 2⁻⁴⁰ clamps to −28072
    val got = Seq((1L, 1L), (1L, 3L), (1L, 1024L), (1L, 1L << 50))
      .toDF("num", "den")
      .select(EventQueries.lnSmallWeight(col("num"), col("den")).as("w"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(112L, -1072L, -6820L, -28072L))
  }

  test("held-out docs pay higher NLL than the train split they weren't fit on") {
    val rows = SelectionQueries.docNll(spark, dir)
      .select(col("doc_id"), col("nll"), col("nbg")).collect()
    val (train, held) = rows.partition(_.getLong(0) % 10 == 0)
    assert(train.nonEmpty && held.nonEmpty)
    def avgNll(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(1).toDouble / r.getLong(2)).sum / rs.length
    assert(avgNll(held) > avgNll(train),
      "every train bigram was observed in fitting, so the held-out tail must score worse")
    rows.foreach(r => assert(r.getLong(1) > 0L, "every doc pays positive NLL"))
  }

  test("q99 rollup equals the multiplicative per-doc flag rule") {
    val per = SelectionQueries.docNll(spark, dir).collect()
    // 3600 mnat/bigram is the registered PplFlagMnat constant
    val expect = per.count(r => r.getAs[Long]("nll") > 3600L * r.getAs[Long]("nbg"))
    val out = graft.QueryCatalog.all.find(_.name == "q99_ppl_filter").get
      .fn(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_flagged")).sum === expect)
    assert(out.map(_.getAs[Long]("n_docs")).sum === per.length)
    out.foreach { r =>
      val share = r.getAs[Double]("flag_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Double]("avg_nll_mnat") > 0.0)
    }
  }

  test("bigram LM artifact is capped: prune active, collect O(K²)-bounded") {
    val (c2, c1, v) = QualityStream.bigramLm(spark, dir)
    val k = SelectionQueries.LmVocabCap
    // the cap BINDS on this corpus: contexts are exactly the top-K
    // alphabet, strictly smaller than the full train vocab V
    assert(c1.size === k, s"expected exactly $k pruned contexts, got ${c1.size}")
    assert(v > k, s"cap must bind (full vocab $v ≤ K=$k means the prune is idle)")
    assert(c2.size <= k.toLong * k, "bigram map must stay within the K² bound")
    // every surviving bigram lives inside the pruned alphabet
    val alphabet = c1.keySet
    assert(c2.keys.forall { case (w1, w2) => alphabet.contains(w1) && alphabet.contains(w2) },
      "pruned bigrams must only reference pruned contexts")
    // pruned-away (OOV) bigrams score through unseen smoothing: the
    // unseen-context cost -ln(1/(0+V)) must exceed every RETAINED
    // bigram's cost -ln((c2+1)/(c1+V)) — pruning can only make rare
    // text more perplexed, never less (junk stays detectable)
    val oovStep = -graft.functions.LnSmallKernel.mnat(1L, v)
    val minSeenStep = c2.map { case ((w1, _), n2) =>
      -graft.functions.LnSmallKernel.mnat(n2 + 1L, c1(w1) + v)
    }.min
    assert(oovStep > minSeenStep,
      s"unseen cost $oovStep mnat must exceed the cheapest seen bigram $minSeenStep")
  }

  test("q93 per-source rollup accounts for every document") {
    val out = graft.QueryCatalog.all.find(_.name == "q93_dsir_select").get
      .fn(spark, dir).collect()
    val total = graft.Tables.documents(spark, dir).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === total)
    out.foreach { r =>
      assert(r.getAs[Long]("n_selected") <= r.getAs[Long]("n_docs"))
      val share = r.getAs[Double]("sel_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("q105 budgets sum exactly to the total and follow sqrt temperature") {
    val out = graft.QueryCatalog.all.find(_.name == "q105_token_budget").get
      .fn(spark, dir).collect()
    assert(out.nonEmpty)
    val budget = 1000000L
    // Hamilton apportionment conserves the budget EXACTLY
    assert(out.map(_.getAs[Long]("budget")).sum === budget)
    // weight is the exact integer sqrt of the source's token count
    out.foreach { r =>
      val (n, w) = (r.getAs[Long]("n_tok"), r.getAs[Long]("weight"))
      assert(w * w <= n && (w + 1) * (w + 1) > n,
        s"weight $w is not isqrt($n)")
    }
    // every budget sits within one token of its real-valued quota
    val tw = out.map(_.getAs[Long]("weight")).sum
    out.foreach { r =>
      val quota = budget.toDouble * r.getAs[Long]("weight") / tw
      val b = r.getAs[Long]("budget")
      assert(b >= math.floor(quota) && b <= math.ceil(quota))
    }
    // sqrt temperature flattens the mix: the biggest source is
    // DOWN-weighted vs its raw token share, the smallest UP-weighted
    // (2e-6 slack: budgets are quota ±1 on a 1e6 budget)
    val totTok = out.map(_.getAs[Long]("n_tok")).sum.toDouble
    val big = out.maxBy(_.getAs[Long]("n_tok"))
    val small = out.minBy(_.getAs[Long]("n_tok"))
    assert(big.getAs[Long]("budget").toDouble / budget <=
      big.getAs[Long]("n_tok") / totTok + 2e-6)
    assert(small.getAs[Long]("budget").toDouble / budget >=
      small.getAs[Long]("n_tok") / totTok - 2e-6)
  }

  test("q161 temperature dial: exact apportionment at all three alphas") {
    val out = graft.QueryCatalog.all.find(_.name == "q161_temperature_mix").get
      .fn(spark, dir).collect()
    assert(out.length > 1)
    // exact recomputation of the largest-remainder apportionment from
    // the raw weights, for each temperature point
    def apportion(w: Seq[(String, Long)]): Map[String, Long] = {
      val tot = w.map(_._2).sum
      val base = w.map { case (s, x) => (s, x * 1000000L / tot, x * 1000000L % tot) }
      val short = 1000000L - base.map(_._2).sum
      val bump = base.sortBy { case (s, _, rem) => (-rem, s) }
        .take(short.toInt).map(_._1).toSet
      base.map { case (s, b, _) => s -> (b + (if (bump(s)) 1L else 0L)) }.toMap
    }
    val raw = out.map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens")))
    val isq = out.map(r => (r.getAs[String]("source"), r.getAs[Long]("isqrt_tokens")))
    val one = raw.map { case (s, _) => (s, 1L) }
    val expect = Map(
      "prop_ppm" -> apportion(raw.toSeq),
      "sqrt_ppm" -> apportion(isq.toSeq),
      "uniform_ppm" -> apportion(one.toSeq))
    out.foreach { r =>
      val s = r.getAs[String]("source")
      // isqrt is the exact integer square root
      val (n, w) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("isqrt_tokens"))
      assert(w * w <= n && (w + 1) * (w + 1) > n, s"isqrt($n) != $w")
      expect.foreach { case (colName, m) =>
        assert(r.getAs[Long](colName) === m(s), s"$colName mismatch for $s")
      }
    }
    // each dial point conserves the ppm budget exactly
    Seq("prop_ppm", "sqrt_ppm", "uniform_ppm").foreach { c =>
      assert(out.map(_.getAs[Long](c)).sum === 1000000L, s"$c must sum to 1e6")
    }
    // the temperature interpolates monotonically: the largest source's
    // share falls as alpha drops 1 -> 0.5 -> 0; the smallest rises
    // (±1 slack: largest-remainder bumps are one ppm each)
    val big = out.maxBy(_.getAs[Long]("n_tokens"))
    val small = out.minBy(_.getAs[Long]("n_tokens"))
    assert(big.getAs[Long]("prop_ppm") + 1 >= big.getAs[Long]("sqrt_ppm"))
    assert(big.getAs[Long]("sqrt_ppm") + 1 >= big.getAs[Long]("uniform_ppm"))
    assert(small.getAs[Long]("prop_ppm") <= small.getAs[Long]("sqrt_ppm") + 1)
    assert(small.getAs[Long]("sqrt_ppm") <= small.getAs[Long]("uniform_ppm") + 1)
  }
}
