package graft.operators

import graft.SparkSpec

/** Plan-shape proofs for the round-7 additions (SCALE.md entries):
  * the broadcast directions and single-pass claims are asserted
  * against the final adaptive plan, not just documented.
  */
class NewOpsPlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = graft.QueryCatalog.all.find(_.name == name).get.fn(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q124 novelty: held grams broadcast INTO the train scan — no sort-merge") {
    val p = finalPlan("q124_ngram_novelty")
    assert(p.contains("BroadcastHashJoin"), "held-out gram set must broadcast")
    assert(!p.contains("SortMergeJoin"), "the training side must never shuffle into a merge join")
  }

  test("q123 cluster margin: standing margins frame only — no joins, no recompute") {
    // the N·K centroid scoring lives in the index BUILD (one scan,
    // two writes — see IvfQueries.buildIndexFull); the query itself
    // must be a join-free linear pass over ivf_margins
    val p = finalPlan("q123_cluster_margin")
    assert(!p.contains("Join"),
      "a_sim/b_sim come from the standing margins frame — no join may reappear")
    assert(!p.contains("Window"),
      "no per-vector ranking recompute in the consumer plan")
  }

  test("q125 retrieval eval: sampled queries + label histogram broadcast") {
    val p = finalPlan("q125_retrieval_ndcg")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "candidate generation is the broadcast-sample theta join")
    assert(p.contains("BroadcastHashJoin"), "label histogram joins by broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q126 anisotropy reads the corpus exactly once") {
    val df = graft.QueryCatalog.all.find(_.name == "q126_anisotropy").get
      .fn(spark, dir)
    df.collect()
    // executedPlan.toString prints the initial plan below the final one;
    // count scans in the FINAL section only (the one that ran)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one corpus pass claimed, $scans scans found:\n$p")
    assert(!p.contains("Join"), "n_vecs folds from the code frame — no count join")
    assert(p.contains("Expand"), "both grouping levels ride one GROUPING SETS pass")
  }

  test("q122 source overlap joins grams by equi-hash, never all-pairs on docs") {
    val p = finalPlan("q122_source_overlap")
    // the only nested-loop allowed is the S×S domain cross of two
    // aggregated totals frames; the gram-pair join must be an equi join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "gram join must be an equi join")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross join anywhere")
  }

  test("q132 source JSD: literal totals, one token grouping, no domain-cross join") {
    val p = finalPlan("q132_source_jsd")
    // round 14: the S-row totals collect to the driver and re-enter
    // as literals, so the plan must carry NO join of any kind — the
    // old vocab × broadcast(tot) BroadcastNestedLoopJoin domain cross
    // and the |V|×S zero-fill left join are both gone; the smoothed
    // S-vector and its ordered pairs are HOFs over the per-token map.
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross join")
    assert(!p.contains("Join") && !p.contains("NestedLoop"),
      s"totals are literals — no join may appear:\n$p")
  }

  test("q135 source MinHash: everything after the signature agg is signature-scale") {
    val p = finalPlan("q135_source_minhash")
    assert(!p.contains("CartesianProduct"), "the S×S domain must broadcast")
    // the (h, digest) match join runs on the S×64 frame — any equi
    // join strategy is fine, but never a nested loop over signatures.
    // Count in the FINAL plan section only (toString repeats the
    // pre-AQE initial plan below it).
    val fin = p.split("== Initial Plan ==")(0)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(fin).length
    assert(nested <= 1, s"only the S×S domain cross may nest, found $nested")
  }

  test("q136 CMS: the 2048-cell sketch broadcasts back for scoring") {
    val p = finalPlan("q136_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), "cells must broadcast to the scoring join")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("q137 bloom: bits and truth broadcast; the corpus never shuffles") {
    val p = finalPlan("q137_bloom_dedup_filter")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "no fact-fact shuffle join anywhere")
    assert(!p.contains("CartesianProduct"))
  }

  test("q133 KS: cumulative window runs on the quantized grid, totals broadcast") {
    val p = finalPlan("q133_ks_drift")
    assert(p.contains("BroadcastHashJoin"), "per-type totals must broadcast")
    assert(!p.contains("SortMergeJoin"))
    // exactly one Window over the (type, vq) grid
    assert("RunningWindowFunction|Window".r.findAllIn(p).nonEmpty)
  }

  test("q138 quantile drift inherits q133's kernel shape") {
    val p = finalPlan("q138_quantile_drift")
    assert(p.contains("BroadcastHashJoin"), "per-type totals must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q139 MAD profile: grid windows, broadcast medians, no doc-scale merge join") {
    val p = finalPlan("q139_length_outliers")
    assert(p.contains("BroadcastHashJoin"), "the |S|-row med/mad frames must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q140 t-closeness: the global distribution broadcasts into the domain") {
    val p = finalPlan("q140_t_closeness").split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      "the |QI|x|types| domain cross must ride the broadcast global frame")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q141 media dHash: one media pass, no join anywhere") {
    val df = graft.QueryCatalog.all.find(_.name == "q141_media_dhash_dedup").get
      .fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), "fingerprint dedup is scan -> groupBy, never a join")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one media pass claimed, $scans scans found")
  }

  test("q143 context pack: the 20-row fused list broadcasts into the token projection") {
    val p = finalPlan("q143_context_pack")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q144 doremi: reads the doc_nll artifact — no inline re-score, no cartesian") {
    // the LM-broadcast discipline lives in the docNll BUILDER
    // (PipelinePlanShapeSpec); the registered consumer is a
    // |S|-row rollup of the standing per-doc NLL artifact
    val p = finalPlan("q144_doremi_reweight")
    assert(!p.contains("documents.parquet") && !p.contains("graft_ln_small"),
      s"q144 must read the doc_nll artifact, not re-score the corpus:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q145 token cap: the |S|-row caps frame broadcasts into the doc walk") {
    val p = finalPlan("q145_token_cap")
    assert(p.contains("BroadcastHashJoin"), "caps must broadcast")
    assert(!p.contains("SortMergeJoin"), "docs join caps without shuffling to a merge")
    assert(!p.contains("CartesianProduct"))
  }

  test("q147 gopher rules: one corpus scan, no join at all") {
    val df = graft.QueryCatalog.all.find(_.name == "q147_gopher_rules").get
      .fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"heuristic rules cost one pass, $scans scans found")
    assert(!p.contains("Join"), "pure scan-side arithmetic — no join")
  }

  test("q148 wordpiece drift: the walked dictionary broadcasts into the corpus explode") {
    val p = finalPlan("q148_wordpiece_drift")
    assert(p.contains("BroadcastHashJoin"), "|V|-row dictionary must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q149 ccnet buckets: the (source, bin) bucket map broadcasts to docs") {
    val p = finalPlan("q149_ccnet_buckets")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q146 paragraph dedup: digest-keyed joins only, no cartesian") {
    val p = finalPlan("q146_paragraph_dedup")
    assert(!p.contains("CartesianProduct"))
  }

  test("q150 quality survivors: quality joins in from the doc_nll artifact, no cartesian") {
    val p = finalPlan("q150_quality_survivor")
    assert(!p.contains("graft_ln_small"),
      s"q150 must read the doc_nll artifact, not re-score the corpus:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q152/q153: pair-to-pack joins are id-equi joins, no cartesian") {
    Seq("q152_pack_contamination", "q153_dedup_packing").foreach { q =>
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q156 ABTT: the emitted audit is label-domain-sized driver arithmetic") {
    // round 12: the per-label moments collapse the whole audit into ONE
    // corpus action (the |labels|*4161-cell aggregate, pinned join-free
    // in PipelinePlanShapeSpec); the returned frame is the bounded
    // driver-computed result — never a corpus-scale plan
    val p = finalPlan("q156_abtt_whitening")
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      s"q156's result must be the |labels|-row driver frame:\n$p")
    assert(!p.contains("Scan parquet") && !p.contains("Join"),
      s"no corpus scan or join may appear in the emitted plan:\n$p")
  }

  test("q151 unigram viterbi: the piece inventory rides literals — no cartesian") {
    val p = finalPlan("q151_unigram_viterbi")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "the DP runs scan-side; nothing corpus-scale may shuffle into a merge join")
  }

  test("q154 DP release: one histogram pass, noise is scan-side arithmetic") {
    val p = finalPlan("q154_dp_release")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q155 k-center: the emitted coreset is a driver-picked LocalRelation") {
    // the greedy doubling loop runs as K bounded driver actions by
    // design (the q80 fixed-point pattern); the RETURNED frame must be
    // the K-row pick list, not a corpus-scale recomputation
    val p = finalPlan("q155_kcenter_coreset")
    assert(p.contains("LocalTableScan"), "result must be the collected pick list")
    assert(!p.contains("Scan parquet"), "no corpus rescan may hide in the result plan")
  }

  test("q157 label noise: votes ride cell-equi joins, never all-pairs") {
    val p = finalPlan("q157_label_noise")
    assert(!p.contains("CartesianProduct"))
  }

  test("q158 budget curve: one packing window per bucket, dict broadcast, no cartesian") {
    val p = finalPlan("q158_budget_curve")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "the token dictionary must broadcast into the corpus explode")
    assert(!p.contains("CartesianProduct"))
  }

  test("q159 incremental clusters: label joins are id-equi, no cartesian, artifact-fed") {
    val p = finalPlan("q159_incremental_clusters")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Scan ExistingRDD"),
      "prior map / pairs must come from the standing artifacts")
  }

  test("CC/cluster consumers read the standing artifact, not a rebuilt clustering") {
    // the cluster_map artifact is materialized RDD blocks — consumers
    // must scan it (ExistingRDD), not re-run the shingle/pair/CC chain
    // (q97 also legitimately scans documents for the canonical text)
    Seq("q97_cluster_canonical", "q128_cluster_sizes", "q142_softdedup_weights")
      .foreach { q =>
        assert(finalPlan(q).contains("Scan ExistingRDD"),
          s"$q must read the cluster_map/pairs artifact blocks")
      }
  }

  test("q171 index sizing: one windowed pass, gaps never collected per term") {
    val p = finalPlan("q171_index_size_estimate")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("collect_list"),
      "posting gaps must stream through the window, never materialize per term")
    assert(p.contains("Window"), "lag-gap + df ride one window pass")
  }

  test("q172 AUC: rank-sum windows, never a positive-by-negative pair join") {
    val p = finalPlan("q172_gate_auc")
    assert(!p.contains("CartesianProduct"))
    // the only non-broadcast join allowed is the artifact-weight
    // scoring path; the AUC tail itself must be window + aggregate
    assert(p.contains("Window"), "the negatives-below running sum must be a window")
    assert(!p.contains("SortMergeJoin"),
      s"no score-frame self-join may appear:\n$p")
  }

  test("q173 Neyman: |S|-row allocation arithmetic, no joins at all") {
    val p = finalPlan("q173_neyman_allocation")
    assert(!p.contains("Join"), s"q173 must not join:\n$p")
    val hashEx = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.forall(_.contains("source#")),
      s"every hash exchange must key on source (|S|-row frames):\n$p")
  }

  test("q174/q175 ride the standing pair artifact, no shingle re-derivation") {
    Seq("q174_transitivity_audit", "q175_minhash_calibration").foreach { q =>
      val p = finalPlan(q)
      assert(p.contains("Scan ExistingRDD"), s"$q must read artifact blocks")
      assert(!p.contains("CartesianProduct"), q)
    }
  }
}
