package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class PipelineQueriesSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) =
    PipelineQueries.specs.find(_.name == name).get.fn(spark, dir)

  // ------------------------------------------------------------- q75
  test("q75 packing partitions every doc and every token exactly once") {
    val packs = q("q75_sequence_packing").collect()
    val docs = Tables.documents(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("tok"))
      .agg(count(lit(1)), sum(col("tok"))).as[(Long, Long)].head()
    assert(packs.map(_.getAs[Long]("n_docs")).sum === docs._1)
    assert(packs.map(_.getAs[Long]("pack_tokens")).sum === docs._2)
  }

  test("q75 non-final packs are filled to the budget boundary") {
    // pack p+1 exists ⇒ some doc STARTS at offset ≥ (p+1)·budget, so the
    // cumulative token count through pack p must have reached that line
    val budget = 2048L
    q("q75_sequence_packing").collect()
      .groupBy(_.getAs[Long]("bucket")).foreach { case (b, rows) =>
        val byPack = rows.sortBy(_.getAs[Long]("pack"))
        assert(byPack.map(_.getAs[Long]("pack")) === byPack.indices.map(_.toLong),
          s"bucket $b pack ids must be contiguous from 0")
        val cum = byPack.map(_.getAs[Long]("pack_tokens")).scanLeft(0L)(_ + _).tail
        cum.init.zipWithIndex.foreach { case (c, p) =>
          assert(c >= (p + 1) * budget, s"bucket $b pack $p under-filled: $c")
        }
      }
  }

  // ------------------------------------------------------------- q76
  test("q76 keeps at most the original count and fully keeps max-weight sources") {
    val rows = q("q76_mixture_sampling").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_orig"))
    }
    // equal per-source counts ⇒ the max-rel sources are the binding
    // constraint: their keep-rate is exactly 1
    val maxRel = rows.map(_.getAs[Long]("rel")).max
    rows.filter(_.getAs[Long]("rel") == maxRel).foreach { r =>
      assert(r.getAs[Long]("n_kept") === r.getAs[Long]("n_orig"),
        s"${r.getAs[String]("source")} should be kept whole")
    }
  }

  test("q76 keep-hash is overflow-safe for ids past 2^32") {
    // the old multiplicative form (doc_id * 2654435761 % 2^32) overflowed
    // signed 64-bit for doc_id ≳ 3.5e9; the md5-prefix uniform must agree
    // with a direct digest computation and stay inside [0, 2^48) at any id
    val huge = Seq(4294967296L, 1L << 40, Long.MaxValue, Long.MaxValue - 1)
    val got = huge.toDF("doc_id")
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("bigint").as("u48"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    huge.foreach { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString.take(12)
      val expect = java.lang.Long.parseLong(hex, 16)
      assert(got(id) === expect, s"id=$id")
      assert(got(id) >= 0L && got(id) < (1L << 48))
    }
  }

  test("q76 achieved mix tracks the target mix") {
    val rows = q("q76_mixture_sampling").collect()
    rows.foreach { r =>
      val drift = math.abs(r.getAs[Double]("kept_share") - r.getAs[Double]("target_share"))
      // 25 docs/source at sf0.001 → hash-sampling noise is a few docs
      assert(drift <= 0.05, s"${r.getAs[String]("source")} drift $drift")
    }
    assert(math.abs(rows.map(_.getAs[Double]("kept_share")).sum - 1.0) < 1e-3)
  }

  // ------------------------------------------------------------- q77
  test("q77 emits ≤3 ranked terms per sampled doc with consistent scores") {
    val rows = q("q77_tfidf_topk").collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, dir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 20 === 0)
      val expected = math.floor(
        r.getAs[Long]("tf").toDouble * nDocs / r.getAs[Long]("df") * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("score") === expected)
    }
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (d, rs) =>
      val byRn = rs.sortBy(_.getAs[Long]("rn"))
      assert(byRn.map(_.getAs[Long]("rn")) === (1L to byRn.length).toSeq)
      val scores = byRn.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $d scores not non-increasing: ${scores.toSeq}")
    }
  }

  test("q77 ranks a doc's rarest frequent token first (hand-built fixture)") {
    // 20-doc corpus: every doc contains 'common'; doc 0 also repeats
    // 'rare' twice → rare has tf=2, df=1 → score 2·20/1 = 40 ≫ common's
    val tmp = tempDir("q77fix")
    val docs = (0 until 20).map { i =>
      val text = if (i == 0) "rare rare common" else s"common filler$i"
      (i.toLong, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val top = PipelineQueries.specs.find(_.name == "q77_tfidf_topk").get
      .fn(spark, tmp).filter(col("doc_id") === 0).orderBy(col("rn")).collect()
    assert(top.head.getAs[String]("tok") === "rare")
    assert(top.head.getAs[Double]("score") === 40.0)
  }

  // ------------------------------------------------------------- q78
  test("q78 histogram covers exactly the docs with ≥2 tokens") {
    val rows = q("q78_dupgram_fraction").collect()
    val eligible = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === eligible)
    rows.foreach { r =>
      val d = r.getAs[Long]("decile")
      assert(d >= 0 && d <= 10)
    }
    val grams = DedupQueries.shingles(spark, dir).count()
    assert(rows.map(_.getAs[Long]("grams_total")).sum === grams)
  }

  // ------------------------------------------------------------- q83
  test("q83 chunk counts follow the stride formula per doc") {
    val rows = q("q83_doc_chunking").collect()
    // driver recomputation: ceil(n / 40) chunks per doc, lengths ≤ 50,
    // total chunk tokens = Σ min(50, n - 40k)
    val docs = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).as("n"))
      .as[(String, Int)].collect()
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val starts = ds.toSeq.map(_._2).flatMap(n => 0 until n by 40 map (st => (n, st)))
      src -> (ds.length.toLong, starts.size.toLong,
        starts.map { case (n, st) => math.min(50, n - st).toLong }.sum)
    }
    rows.foreach { r =>
      val (nd, nc, tok) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_chunks") === nc)
      assert(r.getAs[Long]("chunk_tokens") === tok)
    }
    assert(rows.length === expected.size)
  }

  // ------------------------------------------------------------- q87
  test("q87 draws exactly k with hits proportional to size") {
    val rows = q("q87_pps_sample").collect()
    assert(rows.map(_.getAs[Long]("hits")).sum === 50L, "systematic PPS is exact-k")
    val w = Tables.documents(spark, dir)
      .select(sum(size(split(col("text"), " ")).cast("long"))).as[Long].head()
    rows.foreach { r =>
      val (tok, hits) = (r.getAs[Long]("tok"), r.getAs[Long]("hits"))
      assert(hits >= 1)
      // a doc spanning tok tokens can cover at most tok·k/W + 1 probes
      assert(hits <= tok * 50L / w + 1, s"doc ${r.getAs[Long]("doc_id")} over-drawn")
    }
  }

  // ------------------------------------------------------------- q79
  test("q79 vote accounting: one prediction per query vector") {
    val rows = SimilarityQueries.specs.find(_.name == "q79_knn_label_vote").get
      .fn(spark, dir).collect()
    // the fixed 8-query eval panel (EvalPanelCap; smallest ids win)
    val nQueries = math.min(8L, Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 50 === 0).count())
    assert(rows.map(_.getAs[Long]("n_queries")).sum === nQueries)
    rows.foreach { r =>
      val (n, c) = (r.getAs[Long]("n_queries"), r.getAs[Long]("n_correct"))
      assert(c >= 0 && c <= n)
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
      assert(acc === math.floor(c.toDouble / n * 1e6 + 0.5) / 1e6)
    }
  }

  // ------------------------------------------------------------- q80
  test("pageRank matches a driver-side fixed-point oracle on small graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 8) {
      val n = 3 + rnd.nextInt(12)
      val pairs = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (pairs.nonEmpty) {
        val und = (pairs ++ pairs.map(_.swap)).distinct
        // driver oracle: identical integer fixed-point arithmetic
        val nodes = und.map(_._1).distinct.sorted
        val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        var r = nodes.map(_ -> 1000000000000L).toMap
        for (_ <- 1 to 5) {
          val in = und.groupBy(_._2).view.mapValues(
            _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
          r = nodes.map(v => v -> (150000000000L + 85 * in.getOrElse(v, 0L) / 100)).toMap
        }
        val got = MiningQueries.pageRank(und.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
        assert(got === r, s"graph $und")
      }
    }
  }

  test("q80 top ranks: hub of a star outranks its leaves") {
    // star: 0 connected to 1..6, plus an isolated pair 10-11
    val pairs = (1L to 6L).map(i => (0L, i)) :+ (10L, 11L)
    val und = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val ranks = MiningQueries.pageRank(und).as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(ranks(0L) > ranks(_)), "hub must outrank leaves")
    assert(ranks(10L) === ranks(11L), "symmetric pair ranks equal")
  }

  // ------------------------------------------------------------- q90
  test("q90 merges overlapping duplicated windows into exact token spans") {
    val tmp = tempDir("dup_spans")
    def words(n: Int, tag: String) = (0 until n).map(i => s"$tag$i").mkString(" ")
    // docs 1 & 2 share a 14-token run (overlapping 10-windows must merge
    // to 14 tokens, not 5·10); doc 3 is unique; doc 4 is shorter than W
    val shared = words(14, "s")
    val events = Seq(
      (1L, s"${words(6, "a")} $shared ${words(5, "b")}", "en", "web", 0L),
      (2L, s"${words(3, "c")} $shared ${words(8, "d")}", "en", "web", 0L),
      (3L, words(30, "u"), "en", "books", 0L),
      (4L, words(4, "v"), "en", "books", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    events.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = PipelineQueries.specs.find(_.name == "q90_dup_spans").get
      .fn(spark, tmp).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val web = out("web")
    assert(web.getAs[Long]("n_docs") === 2L)
    assert(web.getAs[Long]("docs_with_dup") === 2L)
    // each web doc carries exactly the 14 shared tokens as its dup span
    assert(web.getAs[Long]("tokens_dup") === 28L,
      s"overlapping windows must merge to the exact 14-token span per doc: $web")
    assert(web.getAs[Long]("tokens_total") === 25L + 25L)
    val books = out("books")
    assert(books.getAs[Long]("docs_with_dup") === 0L)
    assert(books.getAs[Long]("tokens_dup") === 0L)
    assert(books.getAs[Long]("n_docs") === 2L, "short docs still count in the denominator")
  }

  // ------------------------------------------------------------- q162
  /** Textbook winnowing (Schleimer et al. 2003 Fig. 5): per window of
    * w hashes select the min, rightmost on ties — a direct loop, no
    * key-encoding trick, so it independently checks the relational
    * min-over-encoded-key formulation. */
  private def winnowRef(toks: Seq[String], k: Int, w: Int): Set[(Int, String)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val hs = toks.sliding(k).filter(_.length == k).map(g => md5hex(g.mkString(" "))).toVector
    (0 to hs.length - w).map { p =>
      val win = (p until p + w).map(i => (hs(i), i))
      val sel = win.minBy { case (h, i) => (h, -i) }
      (sel._2, sel._1)
    }.toSet
  }

  test("q162 fingerprints equal the textbook rightmost-min winnowing, doc by doc") {
    val (k, w) = (4, 4)
    val texts = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSeq)
      .toMap
    val got = PipelineQueries.winnowFingerprints(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("t")))
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rows) =>
        d -> rows.map(r => (r.getAs[Long]("sel_pos").toInt, r.getAs[String]("sel_h"))).toSet
      }
    val expect = texts.map { case (d, t) => d -> winnowRef(t, k, w) }
      .filter(_._2.nonEmpty)
    assert(got.keySet === expect.keySet, "every winnow-eligible doc fingerprints")
    got.foreach { case (d, fps) => assert(fps === expect(d), s"doc $d fingerprint set") }
  }

  test("q162 rollup: density within paper bounds, detection guarantee on planted dup") {
    val out = q("q162_winnow_fingerprint").collect()
    out.foreach { r =>
      if (r.getAs[Long]("n_positions") > 0) {
        val d = r.getAs[Long]("density_ppm")
        // ≥ 1/w of positions (one winner per disjoint window) and ≤ all
        assert(d >= 1000000L / 4 - 1 && d <= 1000000L,
          s"${r.getAs[String]("source")} density $d outside [1/w, 1]")
      }
      assert(r.getAs[Long]("docs_matched") <= r.getAs[Long]("n_docs"))
    }
    // planted guarantee: two docs sharing a k+w-1 = 7-token run MUST
    // share a selected fingerprint hash
    import spark.implicits._
    val run = "the shared seven token run lives here"
    val planted = Seq(
      (1L, "a", s"alpha beta $run gamma delta epsilon zeta"),
      (2L, "b", s"$run omega psi chi phi upsilon tau sigma"))
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
    val fp = PipelineQueries.winnowFingerprints(planted).collect()
    val h1 = fp.filter(_.getAs[Long]("doc_id") == 1L).map(_.getAs[String]("sel_h")).toSet
    val h2 = fp.filter(_.getAs[Long]("doc_id") == 2L).map(_.getAs[String]("sel_h")).toSet
    assert((h1 & h2).nonEmpty, "t-token shared run must yield a shared fingerprint")
  }
}
