package graft.operators

import graft.SparkSpec

/** Plan-shape proofs for the round-7 text gates / loader ops: what
  * shuffles — and what must NOT — asserted on the executed adaptive
  * plan at sf0.001.
  */
class TextGatesPlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = graft.QueryCatalog.all.find(_.name == name).get.fn(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q111 entropy gate: zero exchanges below the output sort") {
    // the fold discipline lives in the doc_entropy BUILDER (q111's
    // registered form reads the standing artifact)
    val b = TextQueries.docEntropyBuild(spark, dir)
    b.collect()
    val p = b.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // per-doc math is scan-local: the ONLY exchange allowed is the
    // explicit spread repartition — no hash exchange from any agg/join
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the doc_entropy build must not join:\n$p")
    val hashEx = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.isEmpty || hashEx.forall(_.contains("REPARTITION_BY_NUM")),
      s"only the explicit spread may hash-exchange:\n$p")
    assert(p.contains("graft_ln_small") || p.contains("lnsmall"),
      "the native ladder expression must be in the plan")
    // and the registered consumer never re-runs the fold on the corpus
    val cp = executedPlan("q111_entropy_gate")
    assert(!cp.contains("documents.parquet") && !cp.contains("text#"),
      s"q111 must read the doc_entropy artifact, not re-fold documents:\n$cp")
  }

  test("q110/q146 read the standing doc_chunks artifact — no per-query chunk pass") {
    // round 12: the per-query persist + collect-to-LocalRelation dance
    // is gone — both consumers plan over the shared standing frame and
    // leave no SQL-cache entry behind
    spark.catalog.clearCache()
    Seq("q110_boilerplate_profile", "q146_paragraph_dedup").foreach { q =>
      val cp = executedPlan(q)
      assert(!cp.contains("documents.parquet") && !cp.contains("text#"),
        s"$q must read the doc_chunks artifact, not re-hash documents:\n$cp")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the consumers must not pin SQL-cache entries")
    // and the BUILD is one spread corpus pass, scan-side hashing, no join
    val b = TextQueries.docChunksBuild(spark, dir)
    b.collect()
    val bp = b.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!bp.contains("Join"), s"the doc_chunks build must not join:\n$bp")
    val scans = "Scan parquet".r.findAllIn(bp).length
    assert(scans === 1, s"one corpus pass claimed, $scans scans found:\n$bp")
  }

  test("q113 epoch shards: one hash exchange on the grouping key, no global sort of docs") {
    val p = executedPlan("q113_epoch_shards")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      s"q113 must not join:\n$p")
    // rangepartitioning may appear ONLY for the 16-row output ORDER BY;
    // the doc-level data moves through exactly one hash exchange
    // (epoch, shard) feeding the fingerprint aggregate
    val hashEx = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.length === 1, s"exactly one doc-level hash exchange:\n$p")
    assert(hashEx.head.contains("epoch") && hashEx.head.contains("shard"),
      s"the exchange must key on (epoch, shard):\n${hashEx.head}")
    assert(!hashEx.head.contains("text#"),
      "the shard exchange must carry token counts, not text")
  }

  test("q112 curriculum: docs meet their phase by broadcast, never a shuffle join") {
    val p = executedPlan("q112_curriculum_phases")
    assert(p.contains("BroadcastHashJoin"), "phase map must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the doc frame must never shuffle to meet the bin-phase map")
  }

  test("q163 heaps fit: native log kernel, no cartesian, zero windows/scans warm") {
    val p = executedPlan("q163_heaps_law")
    // the registered fit consumes the growth-curve LocalRelation, so
    // Catalyst legally folds the ≤8·|S| graft_log2q20 calls to literals
    // at optimization time (ConvertToLocalRelation) — the kernel pin
    // therefore runs against the GENERIC (non-artifact) fit plan:
    val generic = TextQueries.fitGrowth(TextQueries.growthFrom(spark,
      TextQueries.docSpineBuild(spark, dir),
      TextQueries.vocabOf(graft.Tables.documents(spark, dir))))
      .queryExecution.executedPlan.toString
    assert(generic.contains("graft_log2q20"),
      "the Q20 log must run as the native codegen expression")
    assert(!p.contains("CartesianProduct"),
      s"the checkpoint cross must broadcast the 8-row ladder:\n$p")
    // round 10: the per-source rank window and both corpus scans live
    // in the doc_spine / src_vocab / heaps_growth STANDING ARTIFACTS —
    // the registered fit consumes the growth-curve LocalRelation, so
    // its own plan must contain no window and no corpus scan at all
    assert(!p.contains("Window ["),
      s"rank window must live in the doc_spine artifact build, not the fit plan:\n$p")
    assert(!p.contains("FileScan") && !p.contains("text#"),
      s"the fit must read the growth-curve literals, not re-scan documents:\n$p")
    // the rank-window discipline itself is pinned on the ARTIFACT build
    val spinePlan = TextQueries.docSpineBuild(spark, dir)
      .queryExecution.executedPlan.toString
    val winIn = spinePlan.split("\n").sliding(2).collect {
      case Array(w, nxt) if w.contains("Window [row_number()") => nxt
    }.toSeq
    assert(winIn.nonEmpty, s"doc_spine build must rank via one window:\n$spinePlan")
    winIn.foreach(l => assert(!l.contains("text#"),
      s"rank window input must be narrow (no text column):\n$l"))
  }

  test("q134/q167 warm plans read the gram_counts artifact — no corpus scan") {
    // the three-order gram explode ran once, in the artifact build;
    // the registered consumers are vocabulary-scale rollups
    val p134 = executedPlan("q134_ngram_diversity")
    assert(!p134.contains("FileScan") && !p134.contains("text#"),
      s"q134 must read the gram_counts artifact, not re-scan documents:\n$p134")
    val p167 = executedPlan("q167_kn_discounts")
    assert(!p167.contains("FileScan") && !p167.contains("text#"),
      s"q167 must read the gram_counts artifact, not re-scan documents:\n$p167")
    // build discipline: ONE (source, n, gram)-keyed hash exchange with
    // map-side partial counts, plus only the explicit spread
    val b = TextQueries.gramCountsBuild(spark, dir)
      .queryExecution.executedPlan.toString
    val hashEx = b.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.count(!_.contains("REPARTITION_BY_NUM")) === 1,
      s"exactly one keyed exchange may feed the gram count:\n$b")
    // the struct-field keys print as _groupingexpression aliases of
    // x.n / x.g; the exchange must carry source plus both of them
    assert(hashEx.exists(l => l.contains("source#") &&
        l.sliding("_groupingexpression".length).count(_ == "_groupingexpression") >= 2),
      s"the exchange must key on (source, n, g):\n$b")
    assert(b.contains("partial_count"),
      s"the gram count must map-side combine before the exchange:\n$b")
  }

  test("q164 zipf: rank window runs over the count aggregate, never doc rows") {
    val p = executedPlan("q164_zipf_slope")
    assert(p.contains("graft_log2q20"))
    assert(!p.contains("CartesianProduct"))
    val winIn = p.split("\n").sliding(2).collect {
      case Array(w, nxt) if w.contains("Window [row_number()") => nxt
    }.toSeq
    assert(winIn.nonEmpty)
    winIn.foreach(l => assert(!l.contains("text#"),
      s"rank window must consume (source, term, c) aggregates:\n$l"))
  }

  test("q165 good-turing: two-level aggregate, no joins, no windows") {
    val p = executedPlan("q165_good_turing")
    assert(!p.contains("Join"), s"q165 must not join:\n$p")
    assert(!p.contains("Window"), s"q165 must not window:\n$p")
    val hashEx = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.length <= 2, s"term agg + source agg only:\n$p")
  }
}
