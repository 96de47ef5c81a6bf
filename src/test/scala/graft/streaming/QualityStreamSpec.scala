package graft.streaming

import graft.SparkSpec
import graft.operators.{ClassifierQueries, EventQueries, SelectionQueries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Online quality gate: the scalar ladder twin must equal the batch
  * column ladder everywhere, per-doc stream verdicts must equal the
  * batch q99/q100 scores EXACTLY, and micro-batch boundaries must not
  * matter. */
class QualityStreamSpec extends SparkSpec {

  import QualityStream.{DocIn, QualityModel, QualityVerdict}
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val model: QualityModel = {
    val (c2, c1, v) = QualityStream.bigramLm(spark, dir)
    val (w, prior) = QualityStream.fitNb(spark, dir)
    QualityModel(c2, c1, v, SelectionQueries.PplFlagMnat, w, prior)
  }

  test("scalar ladder twin equals the batch column ladder on a dense grid") {
    val pairs = for {
      num <- Seq(1L, 2L, 3L, 7L, 100L, 999L, 12345L)
      den <- Seq(1L, 2L, 3L, 5L, 64L, 1000L, 1L << 20, 1L << 45)
      if num <= den
    } yield (num, den)
    val viaColumn = pairs.toDF("num", "den")
      .select(EventQueries.lnSmallWeight(col("num"), col("den")).as("w"))
      .collect().map(_.getLong(0)).toSeq
    val viaScalar = pairs.map { case (n, d) => graft.functions.LnSmallKernel.mnat(n, d) }
    assert(viaScalar === viaColumn)
  }

  test("stream verdicts equal the batch q99/q100 scores per doc") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[DocIn].collect().toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val got = docs.map(d => d.doc_id -> QualityStream.scoreOne(d, model, md)).toMap

    val batchNll = SelectionQueries.docNll(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("nll"), r.getAs[Long]("nbg")))).toMap
    val batchNb = ClassifierQueries.docScores(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("s")).toMap

    assert(batchNll.nonEmpty && batchNb.nonEmpty)
    batchNll.foreach { case (id, (nll, nbg)) =>
      assert(got(id).nll === nll, s"doc $id nll")
      assert(got(id).n_bigrams === nbg, s"doc $id n_bigrams")
      assert(got(id).ppl_flagged === (nll > model.flagMnat * nbg), s"doc $id flag")
    }
    batchNb.foreach { case (id, s) =>
      assert(got(id).nb_score === s, s"doc $id nb_score")
      assert(got(id).nb_positive === (s > 0L), s"doc $id nb_positive")
    }
  }

  test("stream entropy verdicts equal the batch q111 gate per doc") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[DocIn].collect().toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val got = docs.map(d => d.doc_id -> QualityStream.scoreOne(d, model, md)).toMap
    val batch = graft.QueryCatalog.all.find(_.name == "q111_entropy_gate").get
      .fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("entropy_mnat"), r.getAs[Boolean]("keep")))).toMap
    assert(batch.nonEmpty && batch.size === docs.size)
    batch.foreach { case (id, (ent, keep)) =>
      assert(got(id).entropy_mnat === ent, s"doc $id entropy")
      assert(got(id).entropy_kept === keep, s"doc $id entropy keep")
    }
  }

  test("short and empty docs get a verdict instead of being dropped") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val one = QualityStream.scoreOne(DocIn(1L, "s", "solo"), model, md)
    assert(one.n_bigrams === 0L && !one.ppl_flagged && one.nll === 0L)
    val empty = QualityStream.scoreOne(DocIn(2L, "s", ""), model, md)
    assert(empty.n_bigrams === 0L && !empty.ppl_flagged)
  }

  test("micro-batch boundaries do not change verdicts") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[DocIn].collect().toSeq.take(30)
    def run(batches: Seq[Seq[DocIn]], name: String): Map[Long, QualityVerdict] = {
      val input = MemoryStream[DocIn]
      val query = QualityStream.score(spark, input.toDS(), model)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        batches.foreach { b => input.addData(b); query.processAllAvailable() }
        spark.table(name).as[QualityVerdict].collect()
          .map(v => v.doc_id -> v).toMap
      } finally query.stop()
    }
    val whole = run(Seq(docs), "quality_one")
    val split = run(Seq(docs.take(7), docs.slice(7, 8), docs.drop(8)), "quality_split")
    assert(whole.size === docs.size)
    assert(whole === split)
  }
}
