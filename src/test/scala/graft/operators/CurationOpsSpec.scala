package graft.operators

import graft.SparkSpec
import graft.streaming.TokenizeStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Behavior pins for the round-7 curation additions: q144 DoReMi
  * reweighting, q145 per-source token cap, q146 paragraph-dedup doc
  * removal, q147 Gopher rule matrix. Every pin recomputes the operator
  * independently (driver-side Scala over collected inputs) and demands
  * EXACT equality — same discipline as the rest of the suite. */
class CurationOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get.fn(spark, dir)

  // ------------------------------------------------------------- q144
  test("q144: doremi weights renormalize to exactly 1e6 ppm") {
    val rows = run("q144_doremi_reweight").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("doremi_ppm")).sum === 1000000L)
  }

  test("q144: the worst domain gains share, baseline domains are diluted") {
    val rows = run("q144_doremi_reweight").collect()
    // reweighting is RELATIVE: every domain's weight multiplies by
    // (1 + eta*excess) and renormalizes, so only the extremes are
    // order-guaranteed — the max-excess domain's factor beats the
    // mixture average (it gains), a zero-excess domain's factor is
    // the minimum (it can only be diluted). +-2 ppm absorbs the
    // base-share truncation + largest-remainder wiggle.
    val excess = rows.filter(_.getAs[Long]("excess_unat") > 0)
    val base = rows.filter(_.getAs[Long]("excess_unat") == 0)
    assert(excess.nonEmpty && base.nonEmpty,
      "corpus must split into excess and at-baseline domains for the test to bind")
    val worst = excess.maxBy(_.getAs[Long]("excess_unat"))
    assert(worst.getAs[Long]("doremi_ppm") >= worst.getAs[Long]("base_ppm") - 2)
    assert(base.forall(r => r.getAs[Long]("doremi_ppm") <= r.getAs[Long]("base_ppm") + 2))
  }

  test("q144: exact recomputation from the per-doc NLL frame") {
    val nll = SelectionQueries.docNll(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("nll")).as("sn"), sum(col("nbg")).as("sb"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val totNll = nll.map(_._3).sum
    val totBg = nll.map(_._4).sum
    val g = totNll * 1000 / totBg
    case class W(src: String, raw: Long, avg: Long, ex: Long, basePpm: Long)
    val ws = nll.map { case (src, _, sn, sb) =>
      val avg = sn * 1000 / sb
      val ex = math.max(0L, avg - g)
      val basePpm = sb * 1000000L / totBg
      W(src, basePpm * (1000000L + 10L * ex) / 1000000L, avg, ex, basePpm)
    }
    val traw = ws.map(_.raw).sum
    val bases = ws.map(w => (w.src, w.raw * 1000000L / traw, w.raw * 1000000L % traw))
    val short = 1000000L - bases.map(_._2).sum
    val topped = bases.sortBy(b => (-b._3, b._1)).zipWithIndex
      .map { case ((src, b, _), i) => src -> (b + (if (i < short) 1L else 0L)) }.toMap
    val got = run("q144_doremi_reweight").collect()
      .map(r => (r.getString(0), r.getAs[Long]("avg_nll_unat"), r.getAs[Long]("excess_unat"),
        r.getAs[Long]("base_ppm"), r.getAs[Long]("doremi_ppm")))
    val want = ws.map(w => (w.src, w.avg, w.ex, w.basePpm, topped(w.src)))
    assert(got.toSeq === want.toSeq)
  }

  // ------------------------------------------------------------- q145
  test("q145: kept set is exactly the greedy md5-priority prefix under the cap") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        md5(col("doc_id").cast("string")).as("pri"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val bySrc = docs.groupBy(_._1)
    val totTok = docs.map(_._3).sum
    val cap = 9L * totTok / (10L * bySrc.size)
    val want = bySrc.toSeq.sortBy(_._1).map { case (src, ds) =>
      var cum = 0L; var kept = 0L; var keptTok = 0L
      ds.sortBy(d => (d._4, d._2)).foreach { d =>
        cum += d._3
        if (cum <= cap) { kept += 1; keptTok += d._3 }
      }
      (src, ds.length.toLong, ds.map(_._3).sum, cap, kept, ds.length - kept, keptTok)
    }
    val got = run("q145_token_cap").collect().map(r =>
      (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("cap"), r.getAs[Long]("kept_docs"),
        r.getAs[Long]("dropped_docs"), r.getAs[Long]("kept_tokens")))
    assert(got.toSeq === want)
  }

  test("q145: the cap binds somewhere and post-cap shares flatten toward uniform") {
    val rows = run("q145_token_cap").collect()
    assert(rows.exists(_.getAs[Long]("dropped_docs") > 0), "cap must bind")
    assert(rows.forall(r => r.getAs[Long]("kept_tokens") <= r.getAs[Long]("cap")))
    val before = rows.map(_.getAs[Long]("share_before_ppm"))
    val after = rows.map(_.getAs[Long]("share_after_ppm"))
    assert(after.max <= before.max,
      "trimming the over-represented head cannot RAISE the max share")
  }

  // ------------------------------------------------------------- q146
  test("q146: per-source removal accounting matches an exact driver recomputation") {
    val w = TextQueries.BoilerW
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    def chunks(t: Seq[String]): Seq[String] =
      t.grouped(w).filter(_.length == w).map(_.mkString(" ")).toSeq
    val perDoc = docs.map { case (id, src, t) => (id, src, t.length.toLong, chunks(t)) }
    // docs_with per chunk TEXT (md5 is injective enough for the pin)
    val dw = perDoc.flatMap(d => d._4.distinct.map(c => (c, d._1)))
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    val verdicts = perDoc.filter(_._4.nonEmpty).map { case (id, src, nTok, cs) =>
      val nDup = cs.count(c => dw(c) >= 2).toLong
      val dupPpm = nDup * 1000000L / cs.length
      (src, id, nTok, dupPpm, dupPpm > DedupQueries.ParaDupPpm)
    }
    val want = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, ds) =>
      val vs = verdicts.filter(_._1 == src)
      (src, ds.length.toLong, vs.length.toLong,
        vs.count(_._5).toLong,
        vs.filter(_._5).map(_._3).sum,
        vs.filter(_._5).map(_._3).sum * 1000000L / ds.map(_._3.length.toLong).sum,
        vs.map(_._4).sum / vs.length)
    }
    val got = run("q146_paragraph_dedup").collect().map(r =>
      (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("n_assessed"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("removed_tokens"),
        r.getAs[Long]("removed_ppm"), r.getAs[Long]("mean_dup_ppm")))
    assert(got.toSeq === want)
  }

  test("q146: verdict is non-trivial and short docs are exempt") {
    val rows = run("q146_paragraph_dedup").collect()
    val removed = rows.map(_.getAs[Long]("n_removed")).sum
    val assessed = rows.map(_.getAs[Long]("n_assessed")).sum
    assert(removed > 0 && removed < assessed, "threshold must split the corpus")
    // every doc under W tokens is structurally exempt
    val nShort = graft.Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) < TextQueries.BoilerW).count()
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(assessed === nDocs - nShort)
  }

  // ------------------------------------------------------------- q149
  test("q149: per-source terciles match an exact driver recomputation") {
    val d = SelectionQueries.docNll(spark, dir)
      .select(col("source"), (col("nbg") + 1L).as("nt"),
        expr("((nll * 1000) DIV nbg) DIV 10000").as("bin"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = d.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (src, ds) =>
      val bins = ds.groupBy(_._3).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      val tot = bins.map(_._2).sum
      val cum = bins.scanLeft(0L)(_ + _._2).dropRight(1)
      val bucketOf = bins.zip(cum)
        .map { case ((bin, _), c) => bin -> math.min(2L, 3 * c / tot) }.toMap
      ds.groupBy(x => bucketOf(x._3)).toSeq.sortBy(_._1).map { case (bk, xs) =>
        (src, bk, xs.length.toLong, xs.map(_._2).sum)
      }
    }
    val got = run("q149_ccnet_buckets").collect().map(r =>
      (r.getString(0), r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens")))
    assert(got.toSeq === want)
  }

  test("q149: the cut is non-trivial and accounts for every scored doc") {
    val rows = run("q149_ccnet_buckets").collect()
      .map(r => (r.getString(0), r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens")))
    // buckets stay in the tercile domain and at least one source
    // genuinely splits (a degenerate all-in-one-bucket cut would
    // mean the difficulty grid collapsed)
    assert(rows.forall(r => r._2 >= 0 && r._2 <= 2))
    assert(rows.groupBy(_._1).values.exists(_.length >= 2), "some source must split")
    // doc/token accounting ties out against the scoring frame exactly
    val nll = SelectionQueries.docNll(spark, dir)
      .agg(count(lit(1)), sum(col("nbg") + 1L)).collect()(0)
    assert(rows.map(_._3).sum === nll.getLong(0))
    assert(rows.map(_._4).sum === nll.getLong(1))
  }

  // ------------------------------------------------------------- q150
  test("q150: survivor choice matches an exact recomputation from q54 + docNll") {
    val clusters = run("q54_cc_dedup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component_id"),
        r.getAs[Long]("csize")))
    val q = SelectionQueries.docNll(spark, dir)
      .select(col("doc_id"), expr("(nll * 1000) DIV nbg").as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val fams = clusters.filter(_._3 >= 2).groupBy(_._2)
    val perFam = fams.toSeq.map { case (_, ms) =>
      val rows = ms.map { case (id, _, _) =>
        (id, docs(id)._1, docs(id)._2, q.getOrElse(id, 1000000000L))
      }
      val qw = rows.minBy(r => (r._4, r._1))
      val lw = rows.minBy(r => (-r._3, r._1))
      (qw._2, qw._1 != lw._1, qw._4, lw._4)
    }
    val want = perFam.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, fs) =>
      (src, fs.length.toLong, fs.count(_._2).toLong,
        fs.map(_._3).sum / fs.length, fs.map(_._4).sum / fs.length)
    }
    val got = run("q150_quality_survivor").collect().map(r =>
      (r.getString(0), r.getAs[Long]("n_families"), r.getAs[Long]("n_swapped"),
        r.getAs[Long]("q_survivor_mean_unat"), r.getAs[Long]("len_survivor_mean_unat")))
    assert(got.toSeq === want)
    assert(want.nonEmpty, "testdata must contain near-dup families")
    // the quality pick minimizes qv per family, so its mean can never
    // exceed the length pick's
    got.foreach { g => assert(g._4 <= g._5, s"${g._1}: quality mean must win") }
  }

  // ------------------------------------------------------------- q152
  test("q152: contamination audit matches a recomputation from q26 pairs") {
    // pack assignment recomputed from q102's own published rule:
    // doc_id % 8 buckets, doc_id-ordered running token total, floor
    // cut at 4096 — using the q92-style token dictionary implied by
    // the packs q102 reports (we reconstruct tok per doc from the
    // corpus + learned merges via the public trainer surface)
    val words = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val merges = TokenizeStream.trainMerges(words, 8)
    val nTok = TokenizeStream.segmented(words, merges).collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty).map(nTok).sum
    }.toMap
    val assign: Map[Long, (Long, Long)] =
      docs.map(_._1).sorted.groupBy(_ % 8).toSeq.flatMap { case (b, ids) =>
        var cum = 0L
        ids.sorted.toSeq.map { id =>
          val before = cum; cum += toks(id)
          id -> (b, before / 4096L)
        }
      }.toMap
    val pairs = graft.QueryCatalog.all.find(_.name == "q26_ngram_jaccard").get
      .fn(spark, dir).select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameBucket = pairs.filter { case (a, b) => assign(a)._1 == assign(b)._1 }
    val coPacked = sameBucket.filter { case (a, b) => assign(a) == assign(b) }
    val contaminated = coPacked.map(p => assign(p._1)).distinct
    val r = run("q152_pack_contamination").collect()(0)
    assert(r.getAs[Long]("n_pairs") === pairs.length.toLong)
    assert(r.getAs[Long]("same_bucket_pairs") === sameBucket.length.toLong)
    assert(r.getAs[Long]("co_packed_pairs") === coPacked.length.toLong)
    assert(r.getAs[Long]("contaminated_packs") === contaminated.length.toLong)
    assert(r.getAs[Long]("total_packs") === assign.values.toSeq.distinct.length.toLong)
    assert(r.getAs[Long]("contaminated_ppm") ===
      contaminated.length.toLong * 1000000L / assign.values.toSeq.distinct.length)
  }

  test("q152: a clean corpus (no near-dup pairs) still emits one zero row") {
    // regression pin for the empty-`ann` branch: the audit's contract
    // is ONE summary row always — zero pairs must read as an explicit
    // all-zero row (both the Spark agg and the oracle's agg CTE), not
    // as an empty result
    import spark.implicits._
    val tmp = tempDir("q152clean")
    Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel", "en", "web", 48L),
      (1L, "india juliet kilo lima mike november oscar papa", "en", "book", 47L),
      (2L, "quebec romeo sierra tango uniform victor whiskey xray", "en", "code", 52L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.QueryCatalog.all.find(_.name == "q152_pack_contamination").get
      .fn(spark, tmp).collect()
    assert(rows.length === 1, "clean corpus must still yield the summary row")
    val r = rows(0)
    assert(r.getAs[Long]("n_pairs") === 0L)
    assert(r.getAs[Long]("same_bucket_pairs") === 0L)
    assert(r.getAs[Long]("co_packed_pairs") === 0L)
    assert(r.getAs[Long]("contaminated_packs") === 0L)
    assert(r.getAs[Long]("total_packs") > 0L)
    assert(r.getAs[Long]("contaminated_ppm") === 0L)
  }

  // ------------------------------------------------------------- q159
  test("q159: incremental relabeling equals the full recompute, audit columns exact") {
    // the oracle already pins incremental == full via the hash gate;
    // this re-pins it in-process against q54's own output plus an
    // independent driver recomputation of the PRIOR clustering
    val full = run("q54_cc_dedup_clusters").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component_id"), r.getAs[Long]("csize"),
          r.getAs[Boolean]("is_canonical"))).toMap
    val pairs = run("q26_ngram_jaccard").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // driver union-find over corpus-only docs and edges
    val corpusDocs = full.keySet.filter(_ % 10 != 0)
    val parent = scala.collection.mutable.Map(corpusDocs.map(d => d -> d).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.filter { case (a, b) => a % 10 != 0 && b % 10 != 0 }.foreach {
      case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
    }
    val prior = corpusDocs.map { d =>
      // min-label: path-compress then take the min doc id of the set
      d -> corpusDocs.filter(e => find(e) == find(d)).min
    }.toMap
    val rows = run("q159_incremental_clusters").collect()
    assert(rows.length === full.size)
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val (comp, csize, canon) = full(d)
      assert(r.getAs[Long]("component_id") === comp, s"doc $d: incremental != full")
      assert(r.getAs[Long]("csize") === csize)
      assert(r.getAs[Boolean]("is_canonical") === canon)
      assert(r.getAs[String]("origin") === (if (d % 10 == 0) "batch" else "corpus"))
      assert(r.getAs[Long]("prior_component") ===
        (if (d % 10 == 0) -1L else prior(d)), s"doc $d prior label")
    }
    // the increment must actually exercise a merge at test scale —
    // some corpus doc's label must have changed, else the audit
    // column is dead
    assert(rows.exists(r => r.getAs[String]("origin") == "corpus" &&
      r.getAs[Long]("prior_component") != r.getAs[Long]("component_id")),
      "testdata must contain a batch-induced component merge")
  }

  // ------------------------------------------------------------- q153
  test("q153: deduped packs are structurally contamination-free") {
    // survivors from q54's clustering + q97's longest-wins rule
    val clusters = run("q54_cc_dedup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component_id")))
    val nTok = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = clusters.groupBy(_._2).values
      .map(ms => ms.map(_._1).minBy(id => (-nTok(id), id))).toSet
    // every near-dup pair loses at least one endpoint
    val pairs = graft.QueryCatalog.all.find(_.name == "q26_ngram_jaccard").get
      .fn(spark, dir).select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(!(survivors(a) && survivors(b)),
        s"pair ($a,$b) fully survived — dedup broken")
    }
    // manifest covers exactly the survivors, and shrinks vs q102
    val dedupDocs = run("q153_dedup_packing").collect()
      .map(_.getAs[Long]("n_docs")).sum
    val fullDocs = run("q102_bpe_packing").collect()
      .map(_.getAs[Long]("n_docs")).sum
    assert(dedupDocs === survivors.size.toLong)
    assert(dedupDocs < fullDocs, "dedup must actually remove docs on testdata")
  }

  // ------------------------------------------------------------- q155
  test("q155: greedy k-center selection matches a plain-Scala recomputation") {
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val byId = vecs.toMap
    var centers = List(vecs.head._1)
    val mind = scala.collection.mutable.Map(vecs.map(v => v._1 -> Long.MaxValue): _*)
    val want = scala.collection.mutable.ArrayBuffer((1L, centers.head, 0L))
    for (step <- 2 to 8) {
      val c = byId(centers.head)
      vecs.foreach { case (id, v) => mind(id) = math.min(mind(id), d2(v, c)) }
      val (nid, nd) = vecs.map { case (id, _) => (id, mind(id)) }
        .maxBy { case (id, d) => (d, -id) }
      centers = nid :: centers
      want += ((step.toLong, nid, nd))
    }
    val got = run("q155_kcenter_coreset").collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("radius_sq")))
    assert(got.toSeq === want.toSeq)
    // objective is monotone non-increasing and centers are distinct
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
    assert(got.map(_._2).distinct.length === got.length)
  }

  // ------------------------------------------------------------- q156
  test("q156: ABTT audit matches a plain-Scala Gram + power-iteration recomputation") {
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))
    val n = vecs.length.toLong
    val d = 64
    val mean = Array.tabulate(d) { i =>
      val sv = vecs.map(_._3(i)).sum
      math.signum(sv) * (math.abs(sv) / n)
    }
    val cv = vecs.map { case (id, lb, q) =>
      (id, lb, Array.tabulate(d)(i => q(i) - mean(i)))
    }
    val gram = Array.tabulate(d, d)((j, k) => cv.map(v => v._3(j) * v._3(k)).sum)
    var v = Array.fill(d)(1000L)
    for (_ <- 1 to 12) {
      val raw = Array.tabulate(d)(k => (0 until d).map(j => gram(j)(k) * v(j)).sum)
      val mx = math.max(raw.map(math.abs).max, 1L)
      v = raw.map(x => math.signum(x) * (math.abs(x) * 1000L / mx))
    }
    val vnorm = BigInt(v.map(x => x * x).sum)
    val want = cv.groupBy(_._2).toSeq.sortBy(_._1).map { case (lb, vs) =>
      val dots = vs.map { case (_, _, c) =>
        val dot = (0 until d).map(i => c(i) * v(i)).sum
        val nsq = c.map(x => x * x).sum
        (dot, nsq)
      }
      // round-12 semantics: the exact dot^2 sum divides by ||v||^2 ONCE
      // per label (BigInt — matches the engine's v'Gv identity), not
      // per vector
      val varTop = (dots.map { case (dt, _) => BigInt(dt) * dt }.sum / vnorm).toLong
      val varTotal = dots.map(_._2).sum
      (lb, vs.length.toLong, varTotal, varTop,
        (BigInt(varTop) * 1000000 / varTotal).toLong)
    }
    val got = run("q156_abtt_whitening").collect().map(r =>
      (r.getAs[Long]("label"), r.getAs[Long]("n_vecs"), r.getAs[Long]("var_total"),
        r.getAs[Long]("var_top"), r.getAs[Long]("explained_ppm")))
    assert(got.toSeq === want)
    // projection energy can never exceed total variance
    got.foreach(g => assert(g._4 <= g._3 && g._4 >= 0))
  }

  // ------------------------------------------------------------- q157
  test("q157: cell-local kNN label-noise matrix matches a driver recomputation") {
    val (assigned, _) = IvfQueries.index(spark, dir)
    val cells = assigned.select(col("vec_id"), col("cell"),
      col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    val labels = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rate(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val votes = cells.groupBy(_._2).values.flatMap { members =>
      members.flatMap { case (aid, _, av, an) =>
        val nbrs = members.filter(_._1 != aid)
          .map { case (bid, _, bv, bn) =>
            val dot = av.zip(bv).map { case (x, y) => x * y }.sum
            (bid, rate(dot / (an * bn)))
          }
          .sortBy { case (bid, s) => (-s, bid) }.take(10)
        if (nbrs.isEmpty) None
        else {
          val winner = nbrs.groupBy(n => labels(n._1)).toSeq
            .map { case (l, xs) => (l, xs.length) }
            .minBy { case (l, v) => (-v, l) }._1
          Some((labels(aid), winner))
        }
      }
    }.toSeq
    val labelDomain = labels.values.toSeq.distinct.sorted
    val want = (for (l <- labelDomain; v <- labelDomain) yield {
      val n = votes.count(x => x._1 == l && x._2 == v).toLong
      (l, v, n)
    }).map { case (l, v, n) =>
      val rt = votes.count(_._1 == l).toLong
      (l, v, n, if (rt == 0) 0L else n * 1000000L / rt)
    }
    val got = run("q157_label_noise").collect().map(r =>
      (r.getAs[Long]("label"), r.getAs[Long]("voted"), r.getAs[Long]("n"),
        r.getAs[Long]("share_ppm")))
    assert(got.toSeq === want)
    // coverage: every voted vector appears once; voted <= corpus size
    val total = got.map(_._3).sum
    assert(total === votes.length.toLong && total <= labels.size.toLong)
    assert(total > 0)
  }

  // ------------------------------------------------------------- q158
  test("q158: budget curve matches a driver packer at every budget") {
    // token counts via the public trainer surface (q152's move)
    val words = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val nTok = TokenizeStream.segmented(words, TokenizeStream.trainMerges(words, 8))
      .collect().groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ", -1).filter(_.nonEmpty).map(nTok).sum))
      .sortBy(_._1)
    val want = Seq(1024L, 2048L, 4096L, 8192L).map { b =>
      val packs = docs.groupBy(_._1 % 8).toSeq.flatMap { case (bk, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (_, t) =>
          val p = cum / b; cum += t; ((bk, p), t)
        }
      }.groupBy(_._1).values.map(_.map(_._2).sum).toSeq
      val total = packs.sum
      val pad = packs.map(p => math.max(0L, b - p)).sum
      val over = packs.map(p => math.max(0L, p - b)).sum
      (b, packs.length.toLong, total, pad, over,
        pad * 1000000L / total, over * 1000000L / total)
    }
    val got = run("q158_budget_curve").collect().map(r =>
      (r.getAs[Long]("budget"), r.getAs[Long]("n_packs"), r.getAs[Long]("total_tokens"),
        r.getAs[Long]("pad_tokens"), r.getAs[Long]("overflow_tokens"),
        r.getAs[Long]("pad_ppm"), r.getAs[Long]("overflow_ppm")))
    assert(got.toSeq === want)
    // the tradeoff must actually trade: padding grows with the budget,
    // pack count shrinks
    assert(got.map(_._6).toSeq === got.map(_._6).sortBy(identity).toSeq,
      "pad_ppm must be non-decreasing in budget")
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq,
      "n_packs must be non-increasing in budget")
  }

  // ------------------------------------------------------------- q147
  test("q147: matrix matches an exact driver recomputation and every rule fires") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rules = docs.map { case (src, text) =>
      val t = text.split(" ", -1)
      val n = t.length.toLong
      val chars = text.length.toLong - (n - 1)
      val mwl = chars * 1000 / n
      val stops = t.count(x => x == "the" || x == "a").toLong
      (src,
        if (n < 20) 1L else 0L,
        if (n > 90) 1L else 0L,
        if (mwl < 3800 || mwl > 5200) 1L else 0L,
        if (stops < 2) 1L else 0L)
    }
    val want = rules.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rs) =>
      val any = rs.count(r => r._2 + r._3 + r._4 + r._5 >= 1).toLong
      (src, rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum,
        rs.map(_._4).sum, rs.map(_._5).sum, any,
        rs.count(r => r._2 + r._3 + r._4 + r._5 >= 2).toLong,
        any * 1000000L / rs.length)
    }
    val got = run("q147_gopher_rules").collect().map(r =>
      (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("short_hits"),
        r.getAs[Long]("long_hits"), r.getAs[Long]("mwl_hits"),
        r.getAs[Long]("stop_hits"), r.getAs[Long]("reject_any"),
        r.getAs[Long]("reject_multi"), r.getAs[Long]("reject_ppm")))
    assert(got.toSeq === want)
    // corpus-level: each rule fires somewhere, none rejects everything
    val tot = got.map(g => (g._3 + g._4 + g._5 + g._6, g._2, g._7))
    assert(got.map(_._3).sum > 0 && got.map(_._4).sum > 0 && got.map(_._6).sum > 0,
      "short/long/stop rules must each fire on testdata")
    assert(got.map(_._7).sum < got.map(_._2).sum, "must not reject the whole corpus")
  }
}
