package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q84 incremental near-dup and q85 histogram drift. */
class IncrementalOpsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get.fn

  test("q84 agrees with the full-corpus pair set restricted to batch docs") {
    val out = q("q84_incremental_neardup")(spark, dir).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("batch_doc") % 10 === 0)
      assert(r.getAs[Double]("jaccard") >= 0.3)
      val m = r.getAs[Long]("match_doc")
      assert(r.getAs[String]("match_src") === (if (m % 10 == 0) "batch" else "corpus"))
    }
    // full-corpus ground truth: q26's pair set
    val pairs = DedupQueries.jaccardPairs(spark, dir)
      .as[(Long, Long, Double)].collect()
    // a batch doc must appear iff it has a qualifying partner: any
    // corpus doc, or an EARLIER batch doc
    val expected = pairs.flatMap { case (a, b, _) =>
      Seq(b).filter(_ % 10 == 0) ++ Seq(a).filter(x => x % 10 == 0 && b % 10 != 0)
    }.toSet
    assert(out.map(_.getAs[Long]("batch_doc")).toSet === expected)
    // and its best-match score must equal the full kernel's score
    val pairScore = pairs.map { case (a, b, j) => Set(a, b) -> j }.toMap
    out.foreach { r =>
      val key = Set(r.getAs[Long]("batch_doc"), r.getAs[Long]("match_doc"))
      assert(pairScore(key) === r.getAs[Double]("jaccard"),
        s"best-match score diverged for $key")
    }
  }

  test("q85 accounts every event of types present in the reference window") {
    val rows = q("q85_histogram_drift")(spark, dir).collect()
    assert(rows.nonEmpty)
    val totals = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("ref_n") + r.getAs[Long]("cur_n") === totals(t))
      assert(r.getAs[Long]("max_bucket_shift") <= 1000000L)
      assert(r.getAs[Long]("drift_l2_milli") <=
        10L * 1000000L * 1000000L)
    }
  }

  test("q86 intervals chain: each closes at the next change, values actually change") {
    val rows = q("q86_scd2_intervals")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .foreach { case (key, rs) =>
        val ordered = rs.sortBy(_.getAs[Long]("valid_from_ms"))
        ordered.zip(ordered.tail).foreach { case (a, b) =>
          assert(a.getAs[Long]("valid_to_ms") === b.getAs[Long]("valid_from_ms"),
            s"$key: interval gap")
          assert(a.getAs[Double]("value") !== b.getAs[Double]("value"),
            s"$key: consecutive intervals with unchanged value")
        }
        assert(ordered.last.getAs[Long]("valid_to_ms") === -1L,
          s"$key: history must end open")
        assert(ordered.init.forall(_.getAs[Long]("valid_to_ms") > 0))
      }
  }

  test("q85 reports zero drift when both windows hold the same distribution") {
    val tmp = tempDir("drift_fix")
    def nanos(date: String): Long =
      java.sql.Timestamp.valueOf(s"$date 12:00:00").getTime * 1000000L
    // the same 4 values land once before and once after the split
    val vals = Seq(1.0, 2.0, 5.0, 9.0)
    val events = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, nanos("2024-01-02"), 1L, "click", v, "{}"),
        (100L + i, nanos("2024-01-20"), 1L, "click", v, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = q("q85_histogram_drift")(spark, tmp).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("drift_l2_milli") === 0L)
    assert(rows.head.getAs[Long]("max_bucket_shift") === 0L)
  }

  private def driftFixture(curVals: Seq[Double]): String = {
    val tmp = tempDir("psi_fix")
    def nanos(date: String): Long =
      java.sql.Timestamp.valueOf(s"$date 12:00:00").getTime * 1000000L
    val refVals = Seq(1.0, 2.0, 5.0, 9.0)
    val events =
      (refVals.zipWithIndex.map { case (v, i) =>
        (i.toLong, nanos("2024-01-02"), 1L, "click", v, "{}")
      } ++ curVals.zipWithIndex.map { case (v, i) =>
        (100L + i, nanos("2024-01-20"), 1L, "click", v, "{}")
      }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("q88 PSI: zero on identical windows, strictly positive and flagged on a full shift") {
    val same = q("q88_psi_drift")(spark, driftFixture(Seq(1.0, 2.0, 5.0, 9.0))).collect()
    assert(same.length === 1)
    assert(same.head.getAs[Long]("psi_scaled") === 0L)
    assert(!same.head.getAs[Boolean]("drifted"))
    // all current mass lands in the reference histogram's first bucket
    val shifted = q("q88_psi_drift")(spark, driftFixture(Seq(1.0, 1.0, 1.0, 1.0))).collect()
    assert(shifted.length === 1)
    assert(shifted.head.getAs[Long]("psi_scaled") > 200000000L)
    assert(shifted.head.getAs[Boolean]("drifted"))
  }

  test("q88/q89 surface a type absent from the reference window instead of dropping it") {
    val tmp = tempDir("psi_newtype")
    def nanos(date: String): Long =
      java.sql.Timestamp.valueOf(s"$date 12:00:00").getTime * 1000000L
    val vals = Seq(1.0, 2.0, 5.0, 9.0)
    val events =
      (vals.zipWithIndex.flatMap { case (v, i) =>
        Seq((i.toLong, nanos("2024-01-02"), 1L, "click", v, "{}"),
          (100L + i, nanos("2024-01-20"), 1L, "click", v, "{}"))
      } ++ vals.zipWithIndex.map { case (v, i) =>
        // a brand-new type: current window only
        (200L + i, nanos("2024-01-20"), 1L, "newtype", v, "{}")
      }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val psi = q("q88_psi_drift")(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("psi_scaled"), r.getAs[Boolean]("drifted"))).toMap
    assert(psi.keySet === Set("click", "newtype"), "new type must not vanish in the bounds join")
    assert(psi("click") === ((0L, false)))
    assert(psi("newtype")._1 > 200000000L && psi("newtype")._2,
      "a type with zero reference mass is maximal drift")
    val jsd = q("q89_jsd_drift")(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("jsd_scaled")).toMap
    assert(jsd.keySet === Set("click", "newtype"))
    assert(jsd("click") === 0L)
    assert(jsd("newtype") > 100000000L && jsd("newtype") <= 693147181L)
  }

  test("q89 JSD: zero on identical windows, within [0, ln2] always, flags the full shift") {
    val same = q("q89_jsd_drift")(spark, driftFixture(Seq(1.0, 2.0, 5.0, 9.0))).collect()
    assert(same.length === 1)
    assert(same.head.getAs[Long]("jsd_scaled") === 0L)
    val shifted = q("q89_jsd_drift")(spark, driftFixture(Seq(1.0, 1.0, 1.0, 1.0))).collect()
    assert(shifted.head.getAs[Long]("jsd_scaled") > 100000000L)
    // bounded by ln 2 (≈ 693·10⁶ scaled) on real data, never negative
    q("q89_jsd_drift")(spark, dir).collect().foreach { r =>
      val v = r.getAs[Long]("jsd_scaled")
      assert(v >= 0L && v <= 693147181L, s"${r.getAs[String]("event_type")}: $v out of [0, ln2]")
    }
  }

  test("q88 PSI is non-negative on real data and class weights track ln within quantization") {
    q("q88_psi_drift")(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("psi_scaled") >= 0L,
        s"${r.getAs[String]("event_type")}: PSI terms must be non-negative")
    }
    // the fixed lookup's milli-nat weight must sit within the class's
    // log-width of true ln(r) for every interior ratio (outer classes
    // are open-ended by design)
    def weight(a: Long, b: Long): Long =
      if (a * 4 < b) -2079L else if (a * 2 < b) -1040L
      else if (a * 4 < b * 3) -490L else if (a * 10 < b * 9) -197L
      else if (a * 10 < b * 11) 0L else if (a * 3 < b * 4) 191L
      else if (a < b * 2) 490L else if (a < b * 4) 1040L else 2079L
    for (a <- 260L to 3990L by 7L) {
      val r = a.toDouble / 1000.0
      if (r >= 0.26 && r < 3.99)
        assert(math.abs(weight(a, 1000L) / 1000.0 - math.log(r)) <= 0.35,
          s"ratio $r: class weight too far from ln")
    }
  }

  test("q133 KS: zero on identical windows, exact max-gap on a full shift") {
    val same = q("q133_ks_drift")(spark, driftFixture(Seq(1.0, 2.0, 5.0, 9.0))).collect()
    assert(same.length === 1)
    assert(same.head.getAs[Long]("ks_ppm") === 0L)
    assert(!same.head.getAs[Boolean]("drifted"))
    // cur collapses onto ref's smallest value: at vq=100 the CDFs are
    // 1/4 vs 4/4 → D = 3/4 exactly → 750000 ppm
    val shifted = q("q133_ks_drift")(spark, driftFixture(Seq(1.0, 1.0, 1.0, 1.0))).collect()
    assert(shifted.length === 1)
    assert(shifted.head.getAs[Long]("ks_ppm") === 750000L)
    assert(shifted.head.getAs[Boolean]("drifted"))
  }

  test("q133 equals an exact driver-side KS recomputation on testdata") {
    val split = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("ts"))
      .as[(String, Double, java.sql.Timestamp)].collect()
    val expected = ev.groupBy(_._1).flatMap { case (t, rows) =>
      val (cur, ref) = rows.partition(r => !r._3.before(split))
      if (cur.isEmpty || ref.isEmpty) None
      else {
        def quant(xs: Seq[Double]) =
          xs.map(v => math.floor(v * 100).toLong).groupBy(identity)
            .map { case (k, g) => k -> g.size.toLong }
        val (rq, cq) = (quant(ref.toSeq.map(_._2)), quant(cur.toSeq.map(_._2)))
        val grid = (rq.keySet ++ cq.keySet).toSeq.sorted
        val (nr, nc) = (ref.size.toLong, cur.size.toLong)
        var (cr, cc, best) = (0L, 0L, 0L)
        grid.foreach { v =>
          cr += rq.getOrElse(v, 0L); cc += cq.getOrElse(v, 0L)
          best = math.max(best, math.abs(cr * nc - cc * nr))
        }
        Some(t -> ((nr, nc, best * 1000000L / (nr * nc))))
      }
    }
    val got = q("q133_ks_drift")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Long]("ks_ppm"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (t, e) => assert(got(t) === e, s"type $t") }
  }

  test("q138 quantile drift equals exact driver type-1 quantiles on testdata") {
    val split = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("ts"))
      .as[(String, Double, java.sql.Timestamp)].collect()
    def quantile(xs: Seq[Long], pct: Int): Long = {
      val sorted = xs.sorted
      val target = (pct.toLong * xs.size + 99) / 100
      sorted((target - 1).toInt)
    }
    val expected = ev.groupBy(_._1).flatMap { case (t, rows) =>
      val (cur, ref) = rows.partition(r => !r._3.before(split))
      if (cur.isEmpty || ref.isEmpty) Seq.empty
      else {
        val rq = ref.toSeq.map(r => math.floor(r._2 * 100).toLong)
        val cq = cur.toSeq.map(r => math.floor(r._2 * 100).toLong)
        Seq(50, 95, 99).map(p =>
          (t, p) -> ((quantile(rq, p), quantile(cq, p))))
      }
    }
    val got = q("q138_quantile_drift")(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("pct")) ->
        ((r.getAs[Long]("ref_q"), r.getAs[Long]("cur_q"), r.getAs[Long]("delta_centi"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, (rq, cq)) =>
      assert(got(k) === ((rq, cq, cq - rq)), s"key $k")
    }
  }

  test("q137 bloom admission: exact confusion counts, zero false negatives") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bit(j: Int, fp: String): Long =
      java.lang.Long.parseLong(md5hex(s"$j:$fp").take(12), 16) % 4096L
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (probe, train) = docs.map { case (id, t) => (id, md5hex(t)) }
      .partition(_._1 % 10 == 0)
    val bits = train.flatMap { case (_, fp) => (0 until 3).map(bit(_, fp)) }.toSet
    val trainFps = train.map(_._2).toSet
    val rows = probe.map { case (_, fp) =>
      val hit = (0 until 3).forall(j => bits.contains(bit(j, fp)))
      val dup = trainFps.contains(fp)
      (hit, dup)
    }
    // bloom structural invariant, checked on the driver model first
    assert(rows.forall { case (hit, dup) => !dup || hit },
      "a true duplicate must always bloom-hit")
    val nProbe = rows.length.toLong
    val nTrue = rows.count(_._2).toLong
    val nHit = rows.count(_._1).toLong
    val nFp = rows.count { case (h, d) => h && !d }.toLong
    val r = q("q137_bloom_dedup_filter")(spark, dir).collect().head
    assert(r.getAs[Long]("n_probe") === nProbe)
    assert(r.getAs[Long]("n_true_dup") === nTrue)
    assert(r.getAs[Long]("n_bloom_hit") === nHit)
    assert(r.getAs[Long]("n_false_pos") === nFp)
    assert(r.getAs[Long]("fp_ppm") ===
      (if (nProbe == nTrue) 0L else nFp * 1000000L / (nProbe - nTrue)))
    assert(r.getAs[Long]("n_bloom_hit") >= r.getAs[Long]("n_true_dup"))
  }
}
