package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q116 padding-waste audit + q117 exact-substring scrub — behavior
  * pins over planted corpora plus structural invariants on testdata
  * (the SQL twins are driver-oracle-checked).
  */
class PaddingScrubSpec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("padscrub")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get.fn

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // -------------------------------------------------------------- q116
  /** Reference batcher: shard → order → batches of 8 → pad to batch max. */
  private def refPad(lens: Seq[(Long, Long)], sorted: Boolean): (Long, Long) = {
    val byShard = lens.groupBy { case (id, _) => id % 8 }
    var real = 0L; var pad = 0L
    byShard.values.foreach { docs =>
      val ordered =
        if (sorted) docs.sortBy { case (id, l) => (l, id) }
        else docs.sortBy(_._1)
      ordered.grouped(8).foreach { b =>
        val mx = b.map(_._2).max
        real += b.map(_._2).sum
        pad += b.size * mx - b.map(_._2).sum
      }
    }
    (real, pad)
  }

  test("q116 matches a direct reference batcher, including truncation") {
    // lengths 1..20 plus one 200-token doc (truncates to 128); ids
    // spread over all shards
    val rows = (0 until 20).map { i =>
      (i.toLong, (1 to (i + 1)).map(t => s"t$t").mkString(" "), "en", "s")
    } :+ (20L, (1 to 200).map(t => s"x$t").mkString(" "), "en", "s")
    val dir = writeDocs(rows)
    val lens = rows.map { case (id, text, _, _) =>
      (id, math.min(text.split(" ").length.toLong, 128L))
    }
    val got = q("q116_padding_waste")(spark, dir).collect()
      .map(r => r.getAs[String]("strategy") -> r).toMap
    Seq("arrival" -> false, "length_sorted" -> true).foreach {
      case (name, sorted) =>
        val (real, pad) = refPad(lens, sorted)
        val r = got(name)
        assert(r.getAs[Long]("real_tokens") === real, name)
        assert(r.getAs[Long]("pad_tokens") === pad, name)
        assert(r.getAs[Long]("n_docs") === rows.size.toLong)
        assert(r.getAs[Long]("waste_ppm") ===
          pad * 1000000L / (real + pad), name)
    }
  }

  test("q116 on testdata: sorting never pads more, volumes conserved") {
    val rows = q("q116_padding_waste")(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getAs[String]("strategy") -> r).toMap
    val a = rows("arrival"); val s = rows("length_sorted")
    assert(a.getAs[Long]("real_tokens") === s.getAs[Long]("real_tokens"))
    assert(a.getAs[Long]("n_docs") === s.getAs[Long]("n_docs"))
    assert(a.getAs[Long]("n_batches") === s.getAs[Long]("n_batches"))
    assert(s.getAs[Long]("pad_tokens") <= a.getAs[Long]("pad_tokens"),
      "length-sorted batching padded MORE than arrival order")
  }

  // -------------------------------------------------------------- q117
  test("q117 scrubs the planted shared run from every occurrence") {
    val shared = (1 to 14).map(i => s"s$i")
    val aKept = Seq("p1", "p2", "p3", "a1", "a2", "a3")
    val dir = writeDocs(Seq(
      (1L, (aKept.take(3) ++ shared ++ aKept.drop(3)).mkString(" "), "en", "sA"),
      (2L, (shared ++ (1 to 6).map(i => s"b$i")).mkString(" "), "en", "sA"),
      (3L, (1 to 12).map(i => s"u$i").mkString(" "), "en", "sB"),
      // identical twins: everything is a duplicated span → fully scrubbed
      (4L, (1 to 14).map(i => s"d$i").mkString(" "), "en", "sB"),
      (5L, (1 to 14).map(i => s"d$i").mkString(" "), "en", "sB"),
    ))
    val rows = q("q117_span_scrub")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: the 14 shared tokens go, the 6 unique ones survive intact
    assert(rows(1L).getAs[Long]("dup_tokens") === 14L)
    assert(rows(1L).getAs[Long]("kept_tokens") === 6L)
    assert(rows(1L).getAs[String]("cleaned_fp") === md5hex(aKept.mkString(" ")))
    // doc 2: same span cut from its occurrence too (all-copies variant)
    assert(rows(2L).getAs[Long]("kept_tokens") === 6L)
    assert(rows(2L).getAs[String]("cleaned_fp") ===
      md5hex((1 to 6).map(i => s"b$i").mkString(" ")))
    // doc 3: untouched, fingerprint is the original text's
    assert(rows(3L).getAs[Long]("dup_tokens") === 0L)
    assert(rows(3L).getAs[String]("cleaned_fp") ===
      md5hex((1 to 12).map(i => s"u$i").mkString(" ")))
    // twins: fully scrubbed to the empty document
    Seq(4L, 5L).foreach { id =>
      assert(rows(id).getAs[Long]("kept_tokens") === 0L)
      assert(rows(id).getAs[String]("cleaned_fp") === md5hex(""))
    }
  }

  test("q117 on testdata: token accounting closes and q90 agrees") {
    val dir = "/root/testdata/sf0.001"
    val scrub = q("q117_span_scrub")(spark, dir).collect()
    scrub.foreach { r =>
      assert(r.getAs[Long]("kept_tokens") ===
        r.getAs[Long]("n_tokens") - r.getAs[Long]("dup_tokens"),
        s"doc ${r.getAs[Long]("doc_id")}: disjoint-island invariant broken")
    }
    // per-source dup totals must equal q90's profile of the same spans
    val bySrc = scrub.groupBy(_.getAs[String]("source"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("dup_tokens")).sum }
    val q90Rows = q("q90_dup_spans")(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tokens_dup")).toMap
    bySrc.foreach { case (s, dup) => assert(q90Rows(s) === dup, s) }
  }
}
