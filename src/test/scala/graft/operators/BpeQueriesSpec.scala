package graft.operators

import graft.SparkSpec
import graft.streaming.TokenizeStream

/** Hand-computed merge orders for the BPE trainer: frequency-weighted
  * argmax, lexicographic tiebreak, greedy left-to-right overlap rule,
  * and early exhaustion when no pairs remain. */
class BpeQueriesSpec extends SparkSpec {

  import spark.implicits._

  private def train(words: Seq[(String, Long)], k: Int) =
    TokenizeStream.trainMerges(words.toDF("w", "freq"), k)

  test("merge order follows weighted pair counts, stops when exhausted") {
    // step1: (a,b) appears 2×10 + 5 = 25 — beats (b,a)=10, (b,c)=5, (a,a)=3
    // step2: abab → [ab,ab] gives (ab,ab)=10
    // step3: (ab,c)=5; step4: (a,a)=3; then every word is one symbol
    val merges = train(Seq(("abab", 10L), ("abc", 5L), ("aa", 3L)), k = 8)
    assert(merges === Seq(
      (1L, "a", "b", 25L),
      (2L, "ab", "ab", 10L),
      (3L, "ab", "c", 5L),
      (4L, "a", "a", 3L)))
  }

  test("greedy left-to-right: a run of consecutive matches merges 1st, 3rd, …") {
    // aaaa: (a,a) matches at 3 consecutive positions → apply 1st and 3rd
    // → [aa, aa]; then (aa,aa) once
    assert(train(Seq(("aaaa", 1L)), k = 8) ===
      Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
    // aaa: [aa, a] after step 1 — the middle match was consumed
    assert(train(Seq(("aaa", 1L)), k = 8) ===
      Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
  }

  test("count ties break lexicographically on (lhs, rhs)") {
    val merges = train(Seq(("ba", 1L), ("ab", 1L)), k = 1)
    assert(merges === Seq((1L, "a", "b", 1L)))
  }

  test("segmented applies learned merges in order, including to unseen words") {
    val trainWords = Seq(("abab", 10L), ("abc", 5L), ("aa", 3L))
    val merges = train(trainWords, k = 8) // (a,b), (ab,ab), (ab,c), (a,a)
    val toks = TokenizeStream.segmented(
        Seq(("abd", 1L), ("aaa", 1L), ("abab", 1L)).toDF("w", "freq"), merges)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // abd: (a,b) fires → [ab, d]; aaa: only (a,a) fires → [aa, a];
    // abab: (a,b) twice then (ab,ab) → [abab]
    assert(toks === Map("abd" -> 2L, "aaa" -> 2L, "abab" -> 1L))
  }

  test("q92 compression accounting: words <= bpe tokens <= chars per source") {
    val rows = graft.QueryCatalog.all.find(_.name == "q92_bpe_tokenize").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_bpe_tokens"))
      assert(w <= t && t <= c, s"$w words, $t tokens, $c chars")
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
  }

  test("q91 emits one row per step with monotone non-increasing counts") {
    val rows = graft.QueryCatalog.all.find(_.name == "q91_bpe_merges").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Long]("step")).toSeq === (1L to rows.length))
    val counts = rows.map(_.getAs[Long]("pair_count")).toSeq
    // a merged pair's count can exceed a later argmax but never grow:
    // each step's argmax is ≤ the previous step's (merging only removes
    // or re-labels pair mass at equal weight)
    assert(counts === counts.sortBy(-_))
    rows.foreach { r =>
      assert(r.getAs[String]("lhs").nonEmpty && r.getAs[String]("rhs").nonEmpty)
    }
  }

  test("q148: greedy max-munch drift matches a plain-Scala matcher exactly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // rebuild the trained artifacts independently through the PUBLIC
    // trainer surface: corpus vocab -> merges -> final segmentation
    val words = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val merges = TokenizeStream.trainMerges(words, 8)
    val seg = TokenizeStream.segmented(words, merges)
      .collect().map(r => (r.getString(0), r.getAs[String]("sym")))
    val bpeTok = seg.groupBy(_._1).map { case (w, xs) => w -> xs.length.toLong }
    val pieces = seg.map(_._2).distinct.toSet
    val maxLen = pieces.map(_.length).max
    // reference greedy longest-match walker
    def munch(w: String): (Long, Long) = {
      var pos = 0; var n = 0L; var unk = 0L
      while (pos < w.length) {
        val m = (math.min(maxLen, w.length - pos) to 1 by -1)
          .find(l => pieces.contains(w.substring(pos, pos + l)))
        m match {
          case Some(l) => pos += l; n += 1
          case None => pos += 1; n += 1; unk += 1
        }
      }
      (n, unk)
    }
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = corpus
      .flatMap { case (src, t) => t.split(" ", -1).filter(_.nonEmpty).map(src -> _) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (src, ws) =>
        val walked = ws.map { case (_, w) => (w, bpeTok(w), munch(w)) }
        (src, ws.length.toLong,
          walked.map(_._2).sum, walked.map(_._3._1).sum, walked.map(_._3._2).sum,
          walked.count(x => x._3._1 != x._2).toLong)
      }
    val got = graft.QueryCatalog.all.find(_.name == "q148_wordpiece_drift").get
      .fn(spark, dir).collect().map(r =>
        (r.getString(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"),
          r.getAs[Long]("n_wp_tokens"), r.getAs[Long]("n_unk"),
          r.getAs[Long]("diff_words")))
    assert(got.toSeq === want)
    // the walk must consume every character: wp tokens never exceed chars
    assert(got.map(_._4).sum <= corpus.map(_._2.replace(" ", "").length.toLong).sum)
  }

  test("q151: Viterbi decode matches a plain-Scala DP exactly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val allWords = corpus.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
    val freq = allWords.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val wv = freq.keys.filter(_.length <= 16).toSeq
    // candidate pieces: substrings <= 4 chars, weighted counts, capped
    val pc = wv.flatMap { w =>
      for (i <- 0 until w.length; l <- 1 to math.min(4, w.length - i))
        yield (w.substring(i, i + l), freq(w))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val kept = pc.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(64) ++ pc.filter(_._1.length == 1)
    val tot = kept.map(_._2).sum
    val cost = kept.map { case (p, c) =>
      p -> -graft.functions.LnSmallKernel.mnat(c, tot)
    }.toMap
    // reference DP: lexicographic (cost, pieces) via the same encoding
    def viterbi(w: String): (Long, Long) = {
      val dp = Array.fill(w.length + 1)(Long.MaxValue)
      dp(0) = 0L
      for (i <- 1 to w.length; l <- 1 to math.min(4, i)) {
        val p = w.substring(i - l, i)
        if (cost.contains(p) && dp(i - l) != Long.MaxValue) {
          val cand = (dp(i - l) / 32 + cost(p)) * 32 + (dp(i - l) % 32 + 1)
          if (cand < dp(i)) dp(i) = cand
        }
      }
      (dp(w.length) % 32, dp(w.length) / 32)
    }
    val want = corpus
      .flatMap { case (src, t) =>
        t.split(" ", -1).filter(w => w.nonEmpty && w.length <= 16).map(src -> _)
      }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ws) =>
        val vs = ws.map { case (_, w) => (w.length.toLong, viterbi(w)) }
        (src, ws.length.toLong, vs.map(_._1).sum,
          vs.map(_._2._1).sum, vs.map(_._2._2).sum)
      }
    val got = graft.QueryCatalog.all.find(_.name == "q151_unigram_viterbi").get
      .fn(spark, dir).collect().map(r =>
        (r.getString(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("n_uni_tokens"), r.getAs[Long]("corpus_cost_mnat")))
    assert(got.toSeq === want)
    // unigram segmentation can never use more pieces than characters
    got.foreach(g => assert(g._4 <= g._3 && g._4 >= 1))
  }
}
