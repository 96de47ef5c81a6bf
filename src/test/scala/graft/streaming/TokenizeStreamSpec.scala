package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Online BPE scoring: parity of the per-row Scala merge application
  * with the batch window-pipeline tokenizer, and micro-batch scoring
  * matching the batch computation over the same docs. */
class TokenizeStreamSpec extends SparkSpec {

  import SpanStream.DocText
  import spark.implicits._

  private val trainWords = Seq(("abab", 10L), ("abc", 5L), ("aa", 3L))
  private lazy val merges = TokenizeStream.trainMerges(trainWords.toDF("w", "freq"), 8)

  test("per-row tokenCount equals the batch segmented() on random words") {
    val rnd = new scala.util.Random(7)
    val words = (0 until 60).map(_ =>
      (0 until (1 + rnd.nextInt(10))).map(_ => "abcd"(rnd.nextInt(4))).mkString)
      .distinct
    val batch = TokenizeStream.segmented(words.map((_, 1L)).toDF("w", "freq"), merges)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val table = merges.map(m => (m._2, m._3))
    words.foreach { w =>
      assert(TokenizeStream.tokenCount(w, table).toLong === batch(w), s"word '$w'")
    }
  }

  test("empty words (doubled/leading/trailing spaces) count in neither lambda") {
    implicit val sqlCtx = spark.sqlContext
    // q92's batch side drops empty words via the vocab filter + inner
    // dictionary join; the stream's filter(_.nonEmpty) must agree
    val input = MemoryStream[DocText]
    val query = TokenizeStream.tokenize(spark, input.toDS(), merges)
      .writeStream.format("memory").queryName("tokempty")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(DocText(9L, " abab  abc ")))
      query.processAllAvailable()
      val t = spark.table("tokempty").as[TokenizeStream.DocTokens].collect()
        .find(_.doc_id == 9L).get
      assert(t.n_words === 2L && t.n_chars === 7L && t.n_tokens === 2L)
      // batch twin: the same two real words through the q92 kernel
      val batch = TokenizeStream.segmented(
        Seq(("abab", 1L), ("abc", 1L)).toDF("w", "freq"), merges)
        .groupBy("w").count().agg(sum("count")).collect()(0).getLong(0)
      assert(batch === t.n_tokens)
    } finally query.stop()
  }

  test("micro-batch scoring matches the batch accounting across batches") {
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq(DocText(1L, "abab abc aa"), DocText(2L, "aaa abd")),
      Seq(DocText(3L, "abababab x")))
    val input = MemoryStream[DocText]
    val query = TokenizeStream.tokenize(spark, input.toDS(), merges)
      .writeStream.format("memory").queryName("tokstream")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      val got = spark.table("tokstream").as[TokenizeStream.DocTokens].collect()
        .map(t => t.doc_id -> ((t.n_words, t.n_chars, t.n_tokens))).toMap
      // merges: (a,b),(ab,ab),(ab,c),(a,a) →
      // abab=1 abc=1 aa=1 | aaa=2 abd=2 | abababab=2(abab abab) x=1
      assert(got(1L) === ((3L, 9L, 3L)))
      assert(got(2L) === ((2L, 6L, 4L)))
      assert(got(3L) === ((2L, 9L, 3L)))
    } finally query.stop()
  }
}
