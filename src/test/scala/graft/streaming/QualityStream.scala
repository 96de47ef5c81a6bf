package graft.streaming

import graft.functions.LnSmallKernel
import graft.operators.{ClassifierQueries, SelectionQueries}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Online quality gating — the streaming half of the q99/q100/q111
  * lambda split: the batch jobs train the bigram LM
  * ([[bigramLm]]) and the NB classifier
  * ([[fitNb]]); this scores documents the moment they
  * land — LM perplexity, NB score, AND the model-free q111 token-
  * entropy gate — with both FROZEN models shipped as plain closure values —
  * exactly how production ingest gates run (CCNet ships a trained
  * KenLM; fastText filters ship trained weights; neither re-fits on
  * the stream).
  *
  * Per-doc scoring is a pure function, so the stream is stateless (no
  * shuffle, no state store) and any micro-batch split yields the same
  * rows. The ln arithmetic is `LnSmallKernel.mnat` — the
  * scalar twin of the batch column ladder, same constants — and
  * QualityStreamSpec pins per-doc EXACT equality (nll, n_bigrams,
  * nb_score) with the batch `docNll`/`docScores` frames, so the two
  * halves cannot drift. Docs with < 2 tokens (which the batch scorer
  * drops as unscorable) are emitted unflagged with n_bigrams = 0: an
  * online gate must return a verdict for every document.
  *
  * Model refresh is a stream restart with re-collected artifacts (the
  * CentroidStream reference-model rule: scoring against mutable state
  * would make verdicts depend on micro-batch boundaries). */
object QualityStream {

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class QualityVerdict(
      doc_id: Long, source: String, nll: Long, n_bigrams: Long,
      ppl_flagged: Boolean, nb_score: Long, nb_positive: Boolean,
      entropy_mnat: Long, entropy_kept: Boolean)

  /** Both frozen models in one closure value. `flagMnat` is the q99
    * per-bigram threshold; `nbWeights` is indexed by hash bucket. */
  final case class QualityModel(
      c2: Map[(String, String), Long], c1: Map[String, Long], vocab: Long,
      flagMnat: Long, nbWeights: Array[Long], nbPrior: Long)

  /** The trained LM (bigram counts, context counts, vocab size)
    * collected from the batch `bigram_lm` artifact: the closure this
    * scorer ships, as CCNet ships its pruned KenLM to workers. The maps
    * arrive pruned to the top-`LmVocabCap` alphabet, so they are
    * ≤ K² + K entries at any corpus size; OOV lookups fall through
    * `getOrElse` to the unseen-smoothing path. */
  def bigramLm(s: SparkSession, dir: String)
      : (Map[(String, String), Long], Map[String, Long], Long) = {
    val (c2t, c1t, v) = SelectionQueries.lmModel(s, dir)
    (c2t.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      c1t.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      v)
  }

  /** The fitted NB model (per-bucket weights, class prior) collected
    * from the batch `nb_model` artifact: the closure this scorer ships. */
  def fitNb(s: SparkSession, dir: String): (Array[Long], Long) = {
    val (weights, prior) = ClassifierQueries.nbModel(s, dir)
    val a = new Array[Long](ClassifierQueries.Buckets)
    weights.collect().foreach(r => a(r.getLong(0).toInt) = r.getLong(1))
    (a, prior.head().getLong(0))
  }

  /** Score one document. Tokenization is `split(" ", -1)` — the exact
    * twin of the batch `split(text, ' ')` (keeps empty tokens). */
  private[streaming] def scoreOne(
      d: DocIn, m: QualityModel,
      md: java.security.MessageDigest): QualityVerdict = {
    val toks = d.text.split(" ", -1)
    // ---- q99 twin: bigram NLL in exact milli-nats ----
    var nll = 0L
    var i = 1
    while (i < toks.length) {
      val num = m.c2.getOrElse((toks(i - 1), toks(i)), 0L) + 1L
      val den = m.c1.getOrElse(toks(i - 1), 0L) + m.vocab
      nll -= LnSmallKernel.mnat(num, den)
      i += 1
    }
    val nbg = math.max(toks.length - 1, 0).toLong
    // ---- q100 twin: hashed-bucket NB score ----
    var s = m.nbPrior
    var j = 0
    while (j < toks.length) {
      md.reset()
      val hex = md.digest(toks(j).getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      val b = (java.lang.Long.parseLong(hex, 16) % m.nbWeights.length).toInt
      s += m.nbWeights(b)
      j += 1
    }
    // ---- q111 twin: token-distribution entropy in exact milli-nats,
    // the sorted run-length form (no model — a gate CONSTANT, so it
    // rides the same frozen closure without being a trained artifact) ----
    val n = toks.length.toLong
    val sorted = toks.sorted
    var ssum = 0L
    var k = 0
    while (k < sorted.length) {
      var r = k + 1
      while (r < sorted.length && sorted(r) == sorted(k)) r += 1
      val c = (r - k).toLong
      ssum += c * LnSmallKernel.mnat(c, n)
      k = r
    }
    val ent = if (n == 0L) 0L else math.max(0L, -ssum) / n
    QualityVerdict(d.doc_id, d.source, nll, nbg,
      nbg > 0 && nll > m.flagMnat * nbg, s, s > 0L,
      ent, ent >= graft.operators.TextQueries.EntropyKeepMnats)
  }

  /** Score a document stream against the frozen models. */
  def score(
      spark: SparkSession, docs: Dataset[DocIn],
      model: QualityModel): Dataset[QualityVerdict] = {
    import spark.implicits._
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map(scoreOne(_, model, md))
    }
  }
}
