package graft.streaming

import graft.operators.BpeQueries
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of q92 — ONLINE tokenization with a trained BPE
  * merge table: documents arrive continuously and each is scored
  * (words / chars / post-BPE tokens) the moment it lands, with the
  * merge table broadcast into the executors as a plain closure value.
  *
  * The merge application is a per-row Scala loop rather than the batch
  * side's `aggregate`-HOF array fold — the same word-local scan,
  * expressed as a typed map because that is the streaming-native tool
  * for a per-row pure function. Semantics are pinned EQUAL to
  * [[segmented]] (greedy left-to-right, run rule, merge
  * order) by TokenizeStreamSpec's parity test, so the lambda split
  * (stream for live scoring, q92 for the settled per-source rollup)
  * cannot drift.
  *
  * Scale: stateless — no shuffle, no state store; each micro-batch is
  * a map over its rows with a K-entry merge list (K ≈ vocab merges,
  * kilobytes). This is exactly how production tokenizer workers run:
  * the trained artifact ships to every worker, application is
  * embarrassingly parallel. */
object TokenizeStream {

  final case class DocTokens(doc_id: Long, n_words: Long, n_chars: Long, n_tokens: Long)

  /** The learned merge table for `words` (columns w: string,
    * freq: long) — the batch trainer q91 runs, without its finish hook. */
  def trainMerges(words: DataFrame, k: Int): Seq[(Long, String, String, Long)] =
    BpeQueries.trainCore(words, k)(_ => ())

  /** The batch segmentation after applying `merges` in order, through
    * the same fold q92's token dictionary uses. One row per
    * (word, token ordinal). */
  def segmented(words: DataFrame, merges: Seq[(Long, String, String, Long)]): DataFrame =
    words
      .select(col("w"), col("freq"),
        posexplode(BpeQueries.foldSyms(merges, col("w"))).as(Seq("pos", "sym")))
      .select(col("w"), col("freq"), (col("pos") + 1).as("pos"), col("sym"))

  /** Greedy left-to-right application of `merges` (in order) to one
    * word; returns the post-BPE token count. Equivalent to
    * [[segmented]] on a 1-word vocabulary (parity-pinned). */
  private[streaming] def tokenCount(word: String, merges: Seq[(String, String)]): Int = {
    var seg: Array[String] = word.toCharArray.map(_.toString)
    merges.foreach { case (l, r) =>
      val out = Array.newBuilder[String]
      var i = 0
      while (i < seg.length) {
        if (i + 1 < seg.length && seg(i) == l && seg(i + 1) == r) {
          out += (l + r); i += 2 // consumed pair: the run's 1st/3rd/… rule
        } else { out += seg(i); i += 1 }
      }
      seg = out.result()
    }
    seg.length
  }

  /** Score a document stream against a trained merge table (the
    * (step, lhs, rhs, count) rows [[trainMerges]] emits —
    * order matters and is preserved). */
  def tokenize(
      spark: SparkSession,
      docs: Dataset[SpanStream.DocText],
      merges: Seq[(Long, String, String, Long)]): Dataset[DocTokens] = {
    import spark.implicits._
    val table: Seq[(String, String)] = merges.sortBy(_._1).map(m => (m._2, m._3))
    docs.map { d =>
      val ws = d.text.split(" ").filter(_.nonEmpty)
      DocTokens(d.doc_id, ws.length.toLong,
        ws.map(_.length.toLong).sum,
        ws.map(w => tokenCount(w, table).toLong).sum)
    }
  }
}
