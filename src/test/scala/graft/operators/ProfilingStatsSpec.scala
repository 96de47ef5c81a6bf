package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q81 equi-width histogram and q82 join-size estimation — checked
  * against driver-side recomputations on sf0.001. */
class ProfilingStatsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) =
    ProfilingQueries.specs.find(_.name == name).get.fn(spark, dir)

  test("q81 buckets partition each event type's rows and respect the range") {
    val rows = q("q81_equiwidth_histogram").collect()
    val perType = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum === perType(t), s"type $t row leak")
      rs.foreach { r =>
        val b = r.getAs[Long]("bucket")
        assert(b >= 0 && b <= 9)
      }
    }
    assert(rows.map(_.getAs[Long]("n")).sum === perType.values.sum)
  }

  test("q81 bucket counts match a driver recomputation") {
    val evs = Tables.events(spark, dir)
      .select(col("event_type"), col("value")).as[(String, Double)].collect()
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (t, vs) =>
      val (lo, hi) = (vs.map(_._2).min, vs.map(_._2).max)
      vs.toSeq.map { case (_, v) =>
        val b = if (hi == lo) 0L
                else math.min(math.floor((v - lo) / ((hi - lo) / 10)).toLong, 9L)
        (t, b)
      }
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = q("q81_equiwidth_histogram").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("n")).toMap
    assert(got === expected)
  }

  test("q82 predicts the exact size of the joins it estimates") {
    val est = q("q82_join_size_estimate").collect()
      .map(r => r.getAs[String]("join_name") -> r.getAs[Long]("est_rows")).toMap
    val ev = Tables.events(spark, dir).select(col("user_id").as("k"))
    assert(est("events_self_user") ===
      ev.join(ev.withColumnRenamed("k", "k2"), col("k") === col("k2")).count())
    val lo = Tables.lineitem(spark, dir).select(col("l_orderkey").as("k"))
    val or = Tables.orders(spark, dir).select(col("o_orderkey").as("k2"))
    assert(est("lineitem_orders_orderkey") ===
      lo.join(or, col("k") === col("k2")).count())
  }

  test("q82 heaviest share is consistent and bounded") {
    q("q82_join_size_estimate").collect().foreach { r =>
      val share = r.getAs[Double]("heaviest_share")
      assert(share > 0.0 && share <= 1.0)
      assert(r.getAs[Long]("n_keys") > 0)
    }
  }

  test("q127 matches an exact driver-side l-diversity recomputation") {
    val groups = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 50).cast("long").as("vb"))
      .collect()
      .map(r => ((r.getLong(2), r.getLong(3)), (r.getLong(0), r.getString(1))))
      .groupBy(_._1)
      .map { case ((hr, _), rows) =>
        (hr, rows.map(_._2._1).distinct.length.toLong,
          rows.map(_._2._2).distinct.length.toLong)
      }.toSeq
    val byHr = groups.groupBy(_._1)
    val rows = q("q127_l_diversity").collect()
    assert(rows.map(_.getAs[Long]("hr")).toSeq === byHr.keys.toSeq.sorted)
    rows.foreach { r =>
      val gs = byHr(r.getAs[Long]("hr"))
      val kAnon = gs.count(_._2 >= 5).toLong
      val lowDiv = gs.count(g => g._2 >= 5 && g._3 < 3).toLong
      assert(r.getAs[Long]("n_groups") === gs.length.toLong)
      assert(r.getAs[Long]("k_anon_groups") === kAnon)
      assert(r.getAs[Long]("low_div_groups") === lowDiv)
      assert(r.getAs[Long]("min_diversity") ===
        gs.filter(_._2 >= 5).map(_._3).minOption.getOrElse(0L))
      val expShare = if (kAnon == 0) 0.0
        else math.floor(lowDiv.toDouble / kAnon * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("blind_spot_share") === expShare)
    }
  }

  test("q136 CMS heavy hitters: exact vs a driver sketch, never underestimates") {
    val docDir = "/root/testdata/sf0.001"
    val toks = spark.read.parquet(s"$docDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .as[String].collect()
    val counts = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(r: Int, tok: String): Int =
      (java.lang.Long.parseLong(md5hex(s"$r:$tok").take(12), 16) % 512L).toInt
    // driver-side sketch: 4×512 cells
    val cells = Array.fill(4, 512)(0L)
    counts.foreach { case (t, c) =>
      (0 until 4).foreach(r => cells(r)(bucket(r, t)) += c)
    }
    def est(t: String): Long = (0 until 4).map(r => cells(r)(bucket(r, t))).min
    val expected = counts.toSeq
      .map { case (t, c) => (t, c, est(t)) }
      .sortBy { case (t, _, e) => (-e, t) }
      .take(20)
    val got = ProfilingQueries.specs.find(_.name == "q136_cms_heavy_hitters").get
      .fn(spark, docDir).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("exact_n"),
        r.getAs[Long]("est_n"), r.getAs[Long]("overcount")))
    assert(got.length === math.min(20, counts.size))
    got.zip(expected).foreach { case ((tok, ex, e, over), (et, ec, ee)) =>
      assert(tok === et); assert(ex === ec); assert(e === ee)
      assert(over === e - ex)
      assert(over >= 0L, "CMS must never underestimate")
    }
    // the true top token cannot be displaced below rank 20 (its
    // estimate >= its exact count >= everyone's exact count... pin the
    // weaker true invariant: it appears in the report)
    val top = counts.maxBy { case (t, c) => (c, t) }
    assert(got.exists(_._1 == top._1), "exact top-1 token missing from report")
  }

  test("q139 median/MAD outlier profile equals an exact driver recomputation") {
    val docDir = "/root/testdata/sf0.001"
    val lens = spark.read.parquet(s"$docDir/documents.parquet")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("x"))
      .as[(String, Long)].collect()
    def med1(xs: Seq[Long]): Long = {
      val sorted = xs.sorted
      sorted((((xs.size + 1) / 2) - 1).toInt)
    }
    val expected = lens.groupBy(_._1).map { case (src, rows) =>
      val xs = rows.toSeq.map(_._2)
      val m = med1(xs)
      val mad = med1(xs.map(x => math.abs(x - m)))
      val nOut = xs.count(x => math.abs(x - m) > 3 * mad).toLong
      src -> ((xs.size.toLong, m, mad, nOut, nOut * 1000000L / xs.size))
    }
    val got = ProfilingQueries.specs.find(_.name == "q139_length_outliers").get
      .fn(spark, docDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("med"), r.getAs[Long]("mad"),
          r.getAs[Long]("n_out"), r.getAs[Long]("out_ppm"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (s, e) => assert(got(s) === e, s"source $s") }
    // robustness: a planted mega-doc must not move the median gate
    import spark.implicits._
    val tmp = tempDir("madfix")
    val base = (1 to 99).map(i => (i.toLong, Seq.fill(50 + i % 3)("w").mkString(" "), "en", "s"))
    val spiked = base :+ (999L, Seq.fill(100000)("w").mkString(" "), "en", "s")
    spiked.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = ProfilingQueries.specs.find(_.name == "q139_length_outliers").get
      .fn(spark, tmp).collect().head
    assert(r.getAs[Long]("med") <= 52L, "median must ignore the spike")
    assert(r.getAs[Long]("mad") <= 2L, "MAD must ignore the spike")
    assert(r.getAs[Long]("n_out") === 1L, "exactly the spike is an outlier")
  }

  test("q140 t-closeness equals an exact driver TV recomputation") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 50).cast("long").as("vb"))
      .as[(Long, String, Long, Long)].collect()
    val total = ev.length.toLong
    val globPpm = ev.groupBy(_._2).map { case (t, xs) =>
      t -> xs.length.toLong * 1000000L / total
    }
    val byGroup = ev.groupBy(r => (r._3, r._4))
    val expected = byGroup.toSeq.flatMap { case ((hr, _), rows) =>
      val users = rows.map(_._1).distinct.length.toLong
      if (users < 5) None
      else {
        val n = rows.length.toLong
        val cnts = rows.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
        val sad = globPpm.map { case (t, pg) =>
          math.abs(cnts.getOrElse(t, 0L) * 1000000L / n - pg)
        }.sum
        Some(hr -> (sad / 2))
      }
    }.groupBy(_._1).map { case (hr, tvs) =>
      val vals = tvs.map(_._2)
      val breach = vals.count(_ > 200000L).toLong
      hr -> ((vals.size.toLong, breach, vals.max,
        math.floor(breach.toDouble / vals.size * 1e6 + 0.5) / 1e6))
    }
    val got = ProfilingQueries.specs.find(_.name == "q140_t_closeness").get
      .fn(spark, dir).collect()
      .map(r => r.getAs[Long]("hr") ->
        ((r.getAs[Long]("k_anon_groups"), r.getAs[Long]("t_breaching"),
          r.getAs[Long]("max_tv_ppm"), r.getAs[Double]("breach_share"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (hr, e) => assert(got(hr) === e, s"hour $hr") }
  }

  test("q154: DP release matches an exact driver Laplace-inverse-CDF recomputation") {
    val ev = Tables.events(spark, dir)
      .select(hour(col("ts")).cast("long"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val counts = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val hours = ev.map(_._1).distinct.sorted
    val types = ev.map(_._2).distinct.sorted
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val want = (for (h <- hours; t <- types) yield {
      val c = counts.getOrElse((h, t), 0L)
      val u = java.lang.Long.parseLong(md5hex(s"dp:$h:$t").take(12), 16) % 999999L + 1L
      val noise =
        if (u < 500000L) 2L * graft.functions.LnSmallKernel.mnat(u, 500000L)
        else -2L * graft.functions.LnSmallKernel.mnat(1000000L - u, 500000L)
      (h, t, math.max(0L, c * 1000L + noise))
    }).toSeq
    val got = q("q154_dp_release").collect()
      .map(r => (r.getAs[Long]("hr"), r.getString(1), r.getAs[Long]("released_milli")))
    assert(got.toSeq === want)
    // full zero-filled domain released; both noise signs exercised
    assert(got.length === hours.length * types.length)
    val deltas = got.map { case (h, t, rel) =>
      rel - counts.getOrElse((h, t), 0L) * 1000L
    }
    assert(deltas.exists(_ > 0) && deltas.exists(_ < 0),
      "both Laplace branches must fire across the domain")
  }
}
