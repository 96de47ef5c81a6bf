package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution analytics, fuzzy matching, ordered array aggregation,
  * and dataset profiling — the data-quality / exploration operators a
  * training-data pipeline runs before anything else.
  */
object ProfilingQueries {

  // ---------------------------------------------------------------- q46
  /** Distribution window functions: percent_rank / cume_dist over order
    * values per status (complements q44's rank/ntile family). */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(
        col("o_orderstatus"), col("o_orderkey"),
        Det.rate(percent_rank().over(w)).as("pct_rank"),
        Det.rate(cume_dist().over(w)).as("cume"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  private val q46Sql =
    """SELECT o_orderstatus, o_orderkey,
      | floor((percent_rank() OVER w) * 1e6 + 0.5) / 1e6 AS pct_rank,
      | floor((cume_dist() OVER w) * 1e6 + 0.5) / 1e6 AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Fuzzy matching via edit distance (dedup-adjacent: catches
    * typo-level near-duplicate names that token methods miss). Blocking
    * keys the join on (brand, 6-char name prefix) — the standard fuzzy-
    * match mitigation: brand-only blocking is quadratic within a brand
    * (~800 names/brand at sf0.1 → 8M levenshtein pairs); the prefix
    * block bounds candidates to near-identical starts, which edit
    * distance ≤ 8 on these names implies for typo-class variants. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    // part arrives as ONE parquet scan partition at bench scale; the
    // broadcast self-join inherits that layout, serializing every DP
    // onto one core. Tables.spread parallelizes the probe side for a
    // 20k-row shuffle (see its scaladoc for the AQE-coalescing trap);
    // at 100 TB the scan is naturally partitioned and this is noise.
    val a = Tables.spread(
      Tables.part(s, dir).select(col("p_brand"), substring(col("p_name"), 1, 6).as("pfx"),
        col("p_partkey").as("pk_a"), col("p_name").as("name_a")),
      col("p_brand"), col("pfx"))
    val b = Tables.part(s, dir).select(col("p_brand").as("brand_b"), substring(col("p_name"), 1, 6).as("pfx_b"),
      col("p_partkey").as("pk_b"), col("p_name").as("name_b"))
    // the distance kernel IS the query cost (~360k candidate pairs):
    // graft_lev with a bound runs a banded (Ukkonen) byte DP — only the
    // 2k+1 diagonal (33² → 33·17 cells) with whole-row early exit,
    // returning k+1 past the bound, which the `dist <= 8` filter treats
    // exactly like the unbounded distance (LevenshteinDSpec pins the
    // kept rows equal to the builtin's thresholded DP).
    val dist = expr("graft_lev(name_a, name_b, 8)")
    a.join(broadcast(b), col("p_brand") === col("brand_b") && col("pfx") === col("pfx_b")
        && col("pk_a") < col("pk_b")
        // free triangle-inequality prune: |len(a)−len(b)| > 8 ⇒ dist > 8
        && abs(length(col("name_a")) - length(col("name_b"))) <= 8)
      .withColumn("dist", dist.cast("long"))
      .filter(col("dist") <= 8)
      .select(col("p_brand"), col("pk_a"), col("pk_b"), col("dist"))
      .orderBy(col("p_brand"), col("pk_a"), col("pk_b"))
  }

  private val q47Sql =
    """SELECT a.p_brand, a.p_partkey AS pk_a, b.p_partkey AS pk_b,
      | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      | AND substr(a.p_name, 1, 6) = substr(b.p_name, 1, 6)
      | AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 8
      |ORDER BY a.p_brand, pk_a, pk_b""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Ordered array aggregation surfaced as a string (cross-engine-safe
    * list compare): top-3 customers by balance per nation, joined
    * comma-separated in rank order. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.customer(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))))
      .filter(col("rn") <= 3)
    ranked
      .groupBy(col("c_nationkey"))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("rn"), col("c_custkey")))),
        p => p.getField("c_custkey").cast("string"))).as("top3"))
      .orderBy(col("c_nationkey"))
  }

  private val q48Sql =
    """SELECT c_nationkey, string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY rn) AS top3
      |FROM (
      |  SELECT c_nationkey, c_custkey,
      |         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer
      |) t WHERE rn <= 3
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Dataset profiling in ONE pass: per-column null counts, distinct
    * counts, numeric min/max — the agg computes every statistic in a
    * single scan (no per-column jobs). */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val o = Tables.orders(s, dir)
    val stats = o.agg(
      count(lit(1)).as("rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      countDistinct(col("o_custkey")).as("distinct_custkey"),
      countDistinct(col("o_orderstatus")).as("distinct_status"),
      Det.money(min(col("o_totalprice"))).as("min_price"),
      Det.money(max(col("o_totalprice"))).as("max_price"))
    stats.select(stats.columns.map(c => col(c).cast("double").as(c)).toSeq: _*)
      .unpivot(Array.empty[Column], "metric", "value")
      .orderBy(col("metric"))
  }

  private val q49Sql =
    """WITH s AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS rows_,
      |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS null_custkey,
      |         CAST(count(DISTINCT o_custkey) AS DOUBLE) AS distinct_custkey,
      |         CAST(count(DISTINCT o_orderstatus) AS DOUBLE) AS distinct_status,
      |         floor((min(o_totalprice)) * 100.0 + 0.5) / 100.0 AS min_price,
      |         floor((max(o_totalprice)) * 100.0 + 0.5) / 100.0 AS max_price
      |  FROM orders)
      |SELECT 'distinct_custkey' AS metric, distinct_custkey AS value FROM s
      |UNION ALL SELECT 'distinct_status' AS metric, distinct_status FROM s
      |UNION ALL SELECT 'max_price' AS metric, max_price FROM s
      |UNION ALL SELECT 'min_price' AS metric, min_price FROM s
      |UNION ALL SELECT 'null_custkey' AS metric, null_custkey FROM s
      |UNION ALL SELECT 'rows' AS metric, rows_ FROM s
      |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Join-key skew profile — the operator that OPERATIONALIZES the
    * salting/AQE-skew decision (SCALE.md "Aggregations"): for each
    * candidate shuffle key, the key count, the heaviest key's share,
    * the top-10 share, and the Herfindahl concentration index
    * HHI = Σ share². All ratios are exact rationals of integer counts
    * (HHI = Σcnt² / n² where Σcnt² is an exact integer sum — no
    * float-summation-order sensitivity), so the profile is
    * cross-engine deterministic. One hash agg + one tiny top-k per
    * column; nothing but (key, count) partials ever shuffles. */
  private def keySkew(df: DataFrame, keyCol: String, label: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
    // top-10 via ordered limit (TakeOrderedAndProject: per-partition
    // heaps), NOT a global row_number window, which would sort every
    // key on one partition; the two consumers of `counts` share the
    // same exchange (ReuseExchange — identical canonicalized subplans;
    // an explicit checkpoint here was A/B-measured SLOWER, r13)
    val top10 = counts.orderBy(col("c").desc, col("k")).limit(10)
      .agg(sum(col("c")).as("top10"))
    val totals = counts.agg(
      sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("c")).as("top1"),
      sum(col("c") * col("c")).as("sumsq"))
    totals.crossJoin(broadcast(top10))
      .select(
        lit(label).as("key_col"),
        col("n_rows"), col("n_keys"),
        Det.rate(col("top1").cast("double") / col("n_rows")).as("top1_share"),
        Det.rate(col("top10").cast("double") / col("n_rows")).as("top10_share"),
        Det.rate(col("sumsq").cast("double") / (col("n_rows") * col("n_rows"))).as("hhi"))
  }

  private def q64(s: SparkSession, dir: String): DataFrame =
    keySkew(Tables.orders(s, dir), "o_custkey", "orders.o_custkey")
      .unionByName(keySkew(Tables.lineitem(s, dir), "l_partkey", "lineitem.l_partkey"))
      .unionByName(keySkew(Tables.events(s, dir), "event_type", "events.event_type"))
      .orderBy(col("key_col"))

  private val q64Sql: String = {
    def one(table: String, key: String) =
      s"""SELECT '$table.$key' AS key_col, t.n_rows, t.n_keys,
         |  floor((CAST(t.top1 AS DOUBLE) / t.n_rows) * 1e6 + 0.5) / 1e6 AS top1_share,
         |  floor((CAST(u.top10 AS DOUBLE) / t.n_rows) * 1e6 + 0.5) / 1e6 AS top10_share,
         |  floor((CAST(t.sumsq AS DOUBLE) / (CAST(t.n_rows AS DOUBLE) * t.n_rows)) * 1e6 + 0.5) / 1e6 AS hhi
         |FROM (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys, max(c) AS top1,
         |         CAST(sum(c * c) AS BIGINT) AS sumsq
         |  FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY $key)
         |) t CROSS JOIN (
         |  SELECT CAST(sum(c) AS BIGINT) AS top10
         |  FROM (SELECT c FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY $key)
         |        ORDER BY c DESC, k LIMIT 10)
         |) u""".stripMargin
    Seq(one("orders", "o_custkey"), one("lineitem", "l_partkey"),
      one("events", "event_type"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
  }

  // ---------------------------------------------------------------- q65
  /** Snapshot diff / reconciliation — the regression check between two
    * runs of a pipeline: full-outer join two snapshots on the key,
    * compare ROW FINGERPRINTS (md5 over canonicalized fields — money
    * as exact cents, timestamps as epoch millis, never raw float
    * strings), classify added/removed/changed/same, and report counts
    * plus the key range of each class. The two snapshots are derived
    * deterministically from `orders` (key-modulus drops on each side +
    * a price bump on a third modulus) so the oracle reproduces them.
    *
    * Scale: only (key, 32-byte fingerprint) pairs shuffle — never the
    * row payload; the diff is one full-outer hash join keyed like the
    * table, and the report is a 4-row aggregate. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    // Both snapshots derive from the SAME base rows by key-modulus, so
    // the full-outer join of two filtered scans is equivalently ONE
    // scan computing both fingerprints with membership conditions —
    // zero shuffle before the 4-row classification aggregate (the
    // pre-round-13 shape scanned orders twice and shuffled both
    // fingerprint streams to meet in the join; at 100 TB the join's
    // only role was reuniting rows that started out together). The
    // oracle keeps the literal FULL OUTER form — the hash match proves
    // the rewrite.
    def fp(price: org.apache.spark.sql.Column) =
      md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(price * 100 + lit(0.5)).cast("long"),
        // o_orderdate is TIMESTAMP_NTZ in parquet; the session is
        // pinned UTC so the cast is instant-preserving vs epoch_ms
        unix_millis(col("o_orderdate").cast("timestamp"))))
    val priceB = when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.1)
      .otherwise(col("o_totalprice"))
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 11 =!= 0, fp(col("o_totalprice"))).as("fp_a"),
        when(col("o_orderkey") % 13 =!= 0, fp(priceB)).as("fp_b"))
      .filter(col("fp_a").isNotNull || col("fp_b").isNotNull)
      .select(col("k"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") === col("fp_b"), "same")
          .otherwise("changed").as("change_type"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy(col("change_type"))
  }

  private val q65Sql =
    """WITH a AS (
      |  SELECT o_orderkey AS k,
      |         md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
      |             epoch_ms(o_orderdate))) AS fp_a
      |  FROM orders WHERE o_orderkey % 11 <> 0
      |),
      |b AS (
      |  SELECT o_orderkey AS k,
      |         md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
      |             CAST(floor((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
      |                              ELSE o_totalprice END) * 100 + 0.5) AS BIGINT),
      |             epoch_ms(o_orderdate))) AS fp_b
      |  FROM orders WHERE o_orderkey % 13 <> 0
      |)
      |SELECT CASE WHEN fp_a IS NULL THEN 'added'
      |            WHEN fp_b IS NULL THEN 'removed'
      |            WHEN fp_a = fp_b THEN 'same'
      |            ELSE 'changed' END AS change_type,
      |       count(*) AS n, min(k) AS min_key, max(k) AS max_key
      |FROM a FULL OUTER JOIN b USING (k)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Per-group equi-width histogram (the ANALYZE-style stat q49's
    * min/max profile stops short of): each event type's value range is
    * split into 10 equal buckets computed from its own min/max. The
    * range pass is a tiny per-type aggregate broadcast back over the
    * fact table — two scans, no sort, no single-partition window; the
    * equi-DEPTH alternative (ntile) needs a per-group global sort,
    * which is exactly what a 100 TB stats collection pass avoids.
    * Degenerate ranges (hi == lo) collapse to bucket 0 rather than
    * dividing by zero. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.join(broadcast(rng), Seq("event_type"))
      .withColumn("bucket",
        when(col("hi") === col("lo"), 0L)
          .otherwise(least(
            floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10))
              .cast("long"),
            lit(9L))))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), Det.rnd(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_type"), col("bucket"))
  }

  private val q81Sql =
    """WITH rng AS (
      |  SELECT event_type, min(value) AS lo, max(value) AS hi
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_type,
      |       CASE WHEN r.hi = r.lo THEN 0
      |            ELSE least(CAST(floor((e.value - r.lo) / ((r.hi - r.lo) / 10)) AS BIGINT), 9)
      |       END AS bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       floor((sum(e.value)) * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM events e JOIN rng r ON e.event_type = r.event_type
      |GROUP BY 1, 2 ORDER BY e.event_type, bucket""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Join-size estimation WITHOUT running the join — the CBO/AQE-style
    * broadcast-vs-shuffle-vs-salt decision input (q64's HHI profiles
    * one table's key; this predicts the pairing): |A⋈B| = Σ_k nA(k)·
    * nB(k) computed over per-key COUNT tables, which are |keys| rows —
    * tiny next to the data — so the estimate costs two hash aggs and a
    * count-table join. Reports the predicted row count, key count, and
    * the heaviest key's share of the output (the salting trigger) for
    * two self-joins and one FK join. Everything is exact 64-bit
    * integer arithmetic. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    def est(name: String, a: DataFrame, b: Option[DataFrame]): DataFrame = {
      val ca = a.groupBy(col("k")).agg(count(lit(1)).as("na"))
      // (round-13: a contrib localCheckpoint was A/B-measured SLOWER
      // at sf0.1 — 1.17 -> 1.54 s, checkpointed-leaf stats loss — and
      // reverted; ReuseExchange shares the count aggregates)
      val contrib = b match {
        case None => ca.select(col("k"), (col("na") * col("na")).as("c"))
        case Some(bb) =>
          val cb = bb.groupBy(col("k")).agg(count(lit(1)).as("nb"))
          ca.join(cb, Seq("k")).select(col("k"), (col("na") * col("nb")).as("c"))
      }
      // ONE aggregate yields totals AND the heaviest key: contrib was
      // referenced by the TakeOrdered top-1 and the totals agg — two
      // executions of the whole count-table derivation (plus a
      // crossJoin stage), where max(struct(c, -k)) is the identical
      // (c DESC, k ASC) top-1 inside the same pass
      contrib.agg(sum(col("c")).as("est_rows"), count(lit(1)).as("n_keys"),
          max(struct(col("c"), (-col("k")).as("nk"))).as("h"))
        .select(lit(name).as("join_name"), col("est_rows"), col("n_keys"),
          (-col("h.nk")).as("heaviest_key"),
          Det.rate(col("h.c").cast("double") / col("est_rows"))
            .as("heaviest_share"))
    }
    val li = Tables.lineitem(s, dir).select(col("l_partkey").as("k"))
    val ev = Tables.events(s, dir).select(col("user_id").as("k"))
    val lo = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
    val or = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    est("events_self_user", ev, None)
      .unionByName(est("lineitem_self_partkey", li, None))
      .unionByName(est("lineitem_orders_orderkey", lo, Some(or)))
      .orderBy(col("join_name"))
  }

  private val q82Sql =
    """WITH ev AS (SELECT user_id AS k, count(*) AS na FROM events GROUP BY 1),
      |li AS (SELECT l_partkey AS k, count(*) AS na FROM lineitem GROUP BY 1),
      |lo AS (SELECT l_orderkey AS k, count(*) AS na FROM lineitem GROUP BY 1),
      |oo AS (SELECT o_orderkey AS k, count(*) AS nb FROM orders GROUP BY 1),
      |c1 AS (SELECT k, na * na AS c FROM ev),
      |c2 AS (SELECT k, na * na AS c FROM li),
      |c3 AS (SELECT lo.k, lo.na * oo.nb AS c FROM lo JOIN oo ON lo.k = oo.k),
      |s1 AS (SELECT 'events_self_user' AS join_name,
      |              CAST(sum(c) AS BIGINT) AS est_rows,
      |              CAST(count(*) AS BIGINT) AS n_keys FROM c1),
      |s2 AS (SELECT 'lineitem_self_partkey', CAST(sum(c) AS BIGINT),
      |              CAST(count(*) AS BIGINT) FROM c2),
      |s3 AS (SELECT 'lineitem_orders_orderkey', CAST(sum(c) AS BIGINT),
      |              CAST(count(*) AS BIGINT) FROM c3),
      |h1 AS (SELECT k AS heaviest_key, c AS hc FROM c1 ORDER BY c DESC, k LIMIT 1),
      |h2 AS (SELECT k AS heaviest_key, c AS hc FROM c2 ORDER BY c DESC, k LIMIT 1),
      |h3 AS (SELECT k AS heaviest_key, c AS hc FROM c3 ORDER BY c DESC, k LIMIT 1)
      |SELECT join_name, est_rows, n_keys, heaviest_key,
      |       floor(CAST(hc AS DOUBLE) / est_rows * 1e6 + 0.5) / 1e6 AS heaviest_share
      |FROM (SELECT s1.*, h1.* FROM s1, h1
      |      UNION ALL SELECT s2.*, h2.* FROM s2, h2
      |      UNION ALL SELECT s3.*, h3.* FROM s3, h3)
      |ORDER BY join_name""".stripMargin

  // ---------------------------------------------------------------- q95
  /** k-anonymity risk audit (k = 5) — the privacy gate a curation
    * pipeline runs before releasing event-derived training data:
    * group rows by a quasi-identifier tuple (event_type, hour-of-day,
    * value band of width 50) and flag every group whose DISTINCT user
    * count is below k; any such group re-identifies its members by
    * attribute combination alone (Sweeney's k-anonymity). Output per
    * event type: group counts, risky groups + share, the worst
    * (smallest) group, and the distinct users sitting in risky groups
    * (the actual exposure).
    *
    * Scale: the QI grouping is an exact two-column distinct — (QI,
    * user) pairs shuffle once with map-side combine; the rollup is
    * |QI| rows. users_at_risk re-scans and semi-joins the risky-QI
    * list — broadcastable while risky QIs ≪ corpus (they are the
    * audit's subject); if the risky set itself explodes, the answer
    * ("don't release") matters more than the count. The q74 HLL
    * sketch swaps in where approximate exposure suffices. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val K = 5L
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 50).cast("long").as("vb"))
    // scale-gated waist: `groups` feeds risky AND the final rollup —
    // each reference replayed the events scan + distinct agg (round-13
    // sortaudit); bounded by type×hour×value-bucket. Gated: the fixed
    // eager job showed in q95's sf0.1 weak-list entry (r13 verdict).
    val groups = Det.waist(ev.groupBy(col("event_type"), col("hr"), col("vb"))
      .agg(countDistinct(col("user_id")).as("users")), dir)
    val risky = groups.filter(col("users") < K)
      .select(col("event_type"), col("hr"), col("vb"))
    val exposed = ev.join(broadcast(risky), Seq("event_type", "hr", "vb"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users_at_risk"))
    groups.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("users") < K, 1L).otherwise(0L)).as("risky_groups"),
        min(col("users")).as("min_group_users"))
      .join(exposed, Seq("event_type"), "left")
      .select(col("event_type"), col("n_groups"), col("risky_groups"),
        Det.rate(col("risky_groups").cast("double") / col("n_groups")).as("risky_share"),
        col("min_group_users"),
        coalesce(col("users_at_risk"), lit(0L)).as("users_at_risk"))
      .orderBy(col("event_type"))
  }

  private val q95Sql =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |         CAST(extract(hour FROM ts) AS BIGINT) AS hr,
      |         CAST(floor(value / 50) AS BIGINT) AS vb
      |  FROM events
      |), grp AS (
      |  SELECT event_type, hr, vb,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS users
      |  FROM ev GROUP BY 1, 2, 3
      |), risky AS (
      |  SELECT event_type, hr, vb FROM grp WHERE users < 5
      |), exposed AS (
      |  SELECT ev.event_type, CAST(count(DISTINCT ev.user_id) AS BIGINT) AS users_at_risk
      |  FROM ev JOIN risky USING (event_type, hr, vb) GROUP BY 1
      |)
      |SELECT g.event_type, CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(sum(CASE WHEN users < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_groups,
      |       floor(CAST(sum(CASE WHEN users < 5 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1e6 + 0.5) / 1e6 AS risky_share,
      |       CAST(min(users) AS BIGINT) AS min_group_users,
      |       CAST(COALESCE(max(e.users_at_risk), 0) AS BIGINT) AS users_at_risk
      |FROM grp g LEFT JOIN exposed e ON g.event_type = e.event_type
      |GROUP BY g.event_type ORDER BY g.event_type""".stripMargin

  // --------------------------------------------------------------- q121
  /** Document-feature correlation profile — the ANALYZE-style second
    * moment pass over per-doc curation features (token count, char
    * count, vocabulary size, entropy): Pearson r for the feature pairs
    * a gate designer eyeballs before composing thresholds (highly
    * correlated features gate the same docs twice — q120's kappa at
    * the continuous level). The n_tokens~n_chars pair doubles as a
    * built-in sanity bound (near-1 by construction).
    *
    * Exactness: all five sufficient statistics (Σx, Σy, Σxy, Σx²,
    * Σy²) are exact BIGINT sums of integer features (entropy in exact
    * milli-nats via the shared q111 fold) — immune to summation
    * order; r is computed once in double from those exact longs
    * (identical IEEE ops both engines) and Det-rounded. Feature
    * magnitudes keep every statistic < 2⁶³ up to ~10¹² docs; past
    * that the production move is DECIMAL(38) partials.
    *
    * Scale: ONE corpus scan computes all features per row (the
    * entropy fold is per-doc CPU), the pair explode emits 4 small
    * structs per doc, and the whole query meets at a 4-row aggregate
    * — map-side combined, nothing but partial sums ever shuffles. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val feats = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("f", expr(TextQueries.entropyFoldExpr("t", "n")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("n_chars"), col("f.vocab").as("vocab"),
        expr("greatest(CAST(0 AS BIGINT), -f.ssum) DIV n").as("entropy_mnat"))
    def pair(name: String, x: String, y: String) =
      struct(lit(name).as("pair"), col(x).as("x"), col(y).as("y"))
    feats
      .select(explode(array(
        pair("n_tokens~n_chars", "n_tokens", "n_chars"),
        pair("n_tokens~vocab", "n_tokens", "vocab"),
        pair("n_tokens~entropy", "n_tokens", "entropy_mnat"),
        pair("vocab~entropy", "vocab", "entropy_mnat"))).as("p"))
      .select(col("p.pair").as("pair"), col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("corr", Det.rate(
        (col("n_docs") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n_docs") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n_docs") * col("syy") - col("sy") * col("sy")).cast("double"))))
      .select(col("pair"), col("n_docs"), col("corr"))
      .orderBy(col("pair"))
  }

  private val q121Sql = {
    val entW = EventQueries.lnSmallWeightSql("ec.c", "en.n")
    s"""WITH etk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), ec AS (
       |  SELECT doc_id, tok, count(*) AS c FROM etk GROUP BY 1, 2
       |), en AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |         CAST(count(*) AS BIGINT) AS vocab
       |  FROM ec GROUP BY 1
       |), es AS (
       |  SELECT ec.doc_id, CAST(sum(ec.c * $entW) AS BIGINT) AS ssum
       |  FROM ec JOIN en USING (doc_id) GROUP BY 1
       |), feats AS (
       |  SELECT d.doc_id, en.n AS n_tokens, d.n_chars, en.vocab,
       |         CAST(greatest(0, -es.ssum) // en.n AS BIGINT) AS entropy_mnat
       |  FROM documents d
       |  JOIN en ON en.doc_id = d.doc_id
       |  JOIN es ON es.doc_id = d.doc_id
       |), pr AS (
       |  SELECT 'n_tokens~n_chars' AS pair, n_tokens AS x, n_chars AS y FROM feats
       |  UNION ALL SELECT 'n_tokens~vocab', n_tokens, vocab FROM feats
       |  UNION ALL SELECT 'n_tokens~entropy', n_tokens, entropy_mnat FROM feats
       |  UNION ALL SELECT 'vocab~entropy', vocab, entropy_mnat FROM feats
       |), agg AS (
       |  SELECT pair, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM pr GROUP BY pair
       |)
       |SELECT pair, n_docs,
       |       floor(CAST(n_docs * sxy - sx * sy AS DOUBLE)
       |             / sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
       |                    * CAST(n_docs * syy - sy * sy AS DOUBLE))
       |             * 1e6 + 0.5) / 1e6 AS corr
       |FROM agg ORDER BY pair""".stripMargin
  }

  // --------------------------------------------------------------- q127
  /** l-diversity audit (Machanavajjhala et al. 2007) — q95's blind
    * spot: a quasi-identifier group can hold ≥ k distinct users (so
    * k-anonymity passes) while every row shares ONE sensitive value,
    * and the homogeneity attack reads the attribute off the group
    * without re-identifying anyone. Here QI = (hour, value band),
    * sensitive = event_type, l = 3: per hour, how many k-anonymous
    * groups fail diversity — exactly the groups q95 waves through.
    *
    * Scale: same envelope as q95 — the two distinct-aggs shuffle
    * (QI, user) and (QI, event_type) pairs once with map-side
    * combine; everything after is |QI| rows rolled up to 24. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val K = 5L; val L = 3L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 50).cast("long").as("vb"))
    ev.groupBy(col("hr"), col("vb"))
      .agg(countDistinct(col("user_id")).as("users"),
        countDistinct(col("event_type")).as("div"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("users") >= K, 1L).otherwise(0L)).as("k_anon_groups"),
        sum(when(col("users") >= K && col("div") < L, 1L).otherwise(0L))
          .as("low_div_groups"),
        coalesce(min(when(col("users") >= K, col("div"))), lit(0L))
          .as("min_diversity"))
      .withColumn("blind_spot_share", when(col("k_anon_groups") === 0, lit(0.0))
        .otherwise(Det.rate(col("low_div_groups").cast("double") / col("k_anon_groups"))))
      .select(col("hr"), col("n_groups"), col("k_anon_groups"),
        col("low_div_groups"), col("min_diversity"), col("blind_spot_share"))
      .orderBy(col("hr"))
  }

  private val q127Sql =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         CAST(extract(hour FROM ts) AS BIGINT) AS hr,
      |         CAST(floor(value / 50) AS BIGINT) AS vb
      |  FROM events
      |), grp AS (
      |  SELECT hr, vb,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS users,
      |         CAST(count(DISTINCT event_type) AS BIGINT) AS div
      |  FROM ev GROUP BY 1, 2
      |)
      |SELECT hr, CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(sum(CASE WHEN users >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS k_anon_groups,
      |       CAST(sum(CASE WHEN users >= 5 AND div < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS low_div_groups,
      |       CAST(COALESCE(min(CASE WHEN users >= 5 THEN div END), 0) AS BIGINT)
      |         AS min_diversity,
      |       CASE WHEN sum(CASE WHEN users >= 5 THEN 1 ELSE 0 END) = 0 THEN 0.0
      |            ELSE floor(CAST(sum(CASE WHEN users >= 5 AND div < 3 THEN 1 ELSE 0 END)
      |                            AS DOUBLE)
      |                       / sum(CASE WHEN users >= 5 THEN 1 ELSE 0 END) * 1e6 + 0.5)
      |                 / 1e6 END AS blind_spot_share
      |FROM grp GROUP BY hr ORDER BY hr""".stripMargin

  // ---------------------------------------------------------------- q136
  /** Count-Min-sketched heavy hitters with a built-in error audit —
    * the mergeable-sketch answer to "which tokens dominate the corpus"
    * when the vocabulary itself is too large to rank exactly (q74 is
    * the same production move for distinct counts). The sketch is
    * d=4 × w=512 integer cells; token t hashes to one bucket per row
    * (md5("r:tok"), the engine's cross-checkable hash idiom) and its
    * estimate is the MIN over its 4 cells — never an underestimate
    * (cells only ever add mass), overshoot ≤ ε·N per row with
    * ε ≈ e/w, driven to ~(e/w)⁴-tail odds by the 4-way min. Output:
    * top-20 tokens by estimate with exact count and overcount side by
    * side, so the report grades its own sketch.
    *
    * Scale: the corpus collapses to the (tok, c) vocab frame in one
    * map-side-combined shuffle (paid by every vocab query); the 4×
    * bucket fanout runs on DISTINCT tokens, not corpus rows, and the
    * 2048-cell sketch broadcasts back for scoring. The cells frame is
    * the production artifact: associative (+) across shards, epochs
    * and streams — the state an online heavy-hitters monitor keeps,
    * in O(d·w) regardless of data volume. Top-20 via
    * TakeOrderedAndProject, never a global sort. */
  private val CmsD = 4
  private val CmsW = 512

  private def q136(s: SparkSession, dir: String): DataFrame = {
    def bucket(r: Int, tok: Column): Column =
      conv(substring(md5(concat(lit(s"$r:"), tok)), 1, 12), 16, 10)
        .cast("bigint") % CmsW
    val tc = Tables.spread(Tables.documents(s, dir), col("doc_id"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .persist()
    tc.count() // cells and scoring both scan the vocab frame
    val slots = tc.select(col("tok"), col("c"),
      explode(array((0 until CmsD).map(r =>
        struct(lit(r).as("r"), bucket(r, col("tok")).as("bkt"))): _*)).as("x"))
      .select(col("tok"), col("c"), col("x.r").as("r"), col("x.bkt").as("bkt"))
    val cells = slots.groupBy(col("r"), col("bkt"))
      .agg(sum(col("c")).as("cell"))
    slots.join(broadcast(cells), Seq("r", "bkt"))
      .groupBy(col("tok"), col("c")).agg(min(col("cell")).as("est_n"))
      .select(col("tok"), col("c").as("exact_n"), col("est_n"),
        (col("est_n") - col("c")).as("overcount"))
      .orderBy(col("est_n").desc, col("tok"))
      .limit(20)
  }

  private val q136Sql =
    s"""WITH tc AS (
       |  SELECT tok, count(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1),
       |slots AS (
       |  SELECT tok, c, rr.r,
       |         CAST('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || tok), 1, 12)
       |              AS BIGINT) % $CmsW AS bkt
       |  FROM tc CROSS JOIN (SELECT unnest(generate_series(0, ${CmsD - 1})) AS r) rr),
       |cells AS (SELECT r, bkt, CAST(sum(c) AS BIGINT) AS cell FROM slots GROUP BY 1, 2),
       |est AS (
       |  SELECT s.tok, s.c, min(cells.cell) AS est_n
       |  FROM slots s JOIN cells ON s.r = cells.r AND s.bkt = cells.bkt
       |  GROUP BY 1, 2)
       |SELECT tok, CAST(c AS BIGINT) AS exact_n, CAST(est_n AS BIGINT) AS est_n,
       |       CAST(est_n - c AS BIGINT) AS overcount
       |FROM est ORDER BY est_n DESC, tok LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Robust per-source length-outlier profile — exact median + MAD
    * (median absolute deviation) of per-doc token counts, and the share
    * of docs outside med ± 3·MAD. The robust replacement for the
    * mean/stddev z-score every data card warns against (a single
    * pathological 10⁶-token doc drags a mean-based gate; the median
    * pair shrugs): the Gopher/RefinedWeb-style length screen expressed
    * with estimators that survive the very outliers they hunt.
    *
    * Exactness: both medians are the discontinuous type-1 statistic
    * (smallest grid value whose cumulative count reaches
    * (n + 1) div 2) computed by conditional MIN over cumulative
    * windows — no interpolation, no doubles anywhere; out_ppm is one
    * integer division.
    *
    * Scale: docs collapse to a (source, n_tokens) GRID in one
    * map-side-combined shuffle — every window after runs on grid rows
    * (bounded by the distinct-length range per source, not doc
    * count); the deviation grid derives from the length grid joined
    * to the broadcast |S|-row medians, and the outlier count is one
    * more grid aggregate. Three tiny frames, zero doc-scale sorts. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val g1 = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("cnt"))
      .persist()
    g1.count() // median pass + deviation grid + outlier pass share it
    val wx = Window.partitionBy(col("source")).orderBy(col("x"))
    val med = g1
      .withColumn("cum", sum(col("cnt")).over(wx))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"), col("n"))
      .agg(min(when(col("cum") >= expr("(n + 1) DIV 2"), col("x"))).as("med"))
    val wd = Window.partitionBy(col("source")).orderBy(col("dev"))
    val mad = g1.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("x") - col("med")))
      .groupBy(col("source"), col("n"), col("med"), col("dev"))
      .agg(sum(col("cnt")).as("dcnt"))
      .withColumn("cum", sum(col("dcnt")).over(wd))
      .groupBy(col("source"), col("n"), col("med"))
      .agg(min(when(col("cum") >= expr("(n + 1) DIV 2"), col("dev"))).as("mad"))
    g1.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"), col("n").as("n_docs"), col("med"), col("mad"))
      .agg(sum(when(abs(col("x") - col("med")) > col("mad") * 3, col("cnt"))
        .otherwise(0L)).as("n_out"))
      .withColumn("out_ppm", expr("n_out * 1000000L DIV n_docs"))
      .orderBy(col("source"))
  }

  private val q139Sql =
    """WITH g1 AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
      |         count(*) AS cnt
      |  FROM documents GROUP BY 1, 2
      |), medc AS (
      |  SELECT source, x, cnt,
      |         sum(cnt) OVER (PARTITION BY source ORDER BY x) AS cum,
      |         sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM g1
      |), med AS (
      |  SELECT source, CAST(n AS BIGINT) AS n,
      |         min(CASE WHEN cum >= (n + 1) // 2 THEN x END) AS med
      |  FROM medc GROUP BY 1, 2
      |), devg AS (
      |  SELECT g1.source, med.n, med.med, abs(g1.x - med.med) AS dev,
      |         CAST(sum(g1.cnt) AS BIGINT) AS dcnt
      |  FROM g1 JOIN med ON g1.source = med.source
      |  GROUP BY 1, 2, 3, 4
      |), madc AS (
      |  SELECT source, n, med, dev, dcnt,
      |         sum(dcnt) OVER (PARTITION BY source ORDER BY dev) AS cum
      |  FROM devg
      |), mad AS (
      |  SELECT source, n, med,
      |         min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
      |  FROM madc GROUP BY 1, 2, 3
      |)
      |SELECT g1.source, mad.n AS n_docs, mad.med, mad.mad,
      |       CAST(sum(CASE WHEN abs(g1.x - mad.med) > mad.mad * 3
      |                     THEN g1.cnt ELSE 0 END) AS BIGINT) AS n_out,
      |       CAST(sum(CASE WHEN abs(g1.x - mad.med) > mad.mad * 3
      |                     THEN g1.cnt ELSE 0 END) AS BIGINT)
      |         * 1000000 // mad.n AS out_ppm
      |FROM g1 JOIN mad ON g1.source = mad.source
      |GROUP BY 1, 2, 3, 4 ORDER BY g1.source""".stripMargin

  // ---------------------------------------------------------------- q140
  /** t-closeness audit (Li et al. 2007) — the third of the classic
    * release-privacy trio and the blind spot of the other two: q95
    * proves each QI group hides ≥ k users, q127 that the sensitive
    * attribute has ≥ l VALUES per group, but a group can pass both
    * while its value DISTRIBUTION (99% "purchase" where the corpus
    * runs 20%) still leaks. A group is t-close iff the total-variation
    * distance between its event_type distribution and the global one
    * is ≤ t; per hour the audit reports, among exactly the groups
    * k-anonymity admits, how many breach t = 0.2 (the paper's working
    * example) and the worst TV seen.
    *
    * Exactness: both distributions quantize to ppm by integer DIV;
    * TV = Σ|p_g − p_global| div 2 in ppm — all-integer, the same
    * smoothless convention as q85. Absent-type mass counts: the
    * per-group frame is the (group × global-type) DOMAIN (q12
    * zero-fill), because a type the group never emits contributes its
    * full global share to the distance.
    *
    * Scale: one scan → per-(QI, type) counts and per-QI user
    * distinct-agg (q95's envelope, map-side combined); the 5-row
    * global distribution broadcasts into the |QI|·|types| domain; the
    * rollup is 24 rows. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val K = 5L; val TvT = 200000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 50).cast("long").as("vb"))
    val glob = ev.groupBy(col("event_type")).agg(count(lit(1)).as("gc"))
      .withColumn("gt", sum(col("gc")).over(Window.partitionBy()))
      .select(col("event_type"), expr("gc * 1000000L DIV gt").as("pg"))
    val grp = ev.groupBy(col("hr"), col("vb"))
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
    val cnt = ev.groupBy(col("hr"), col("vb"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val tv = grp.crossJoin(broadcast(glob))
      .join(cnt, Seq("hr", "vb", "event_type"), "left")
      .withColumn("pgrp", expr("coalesce(c, 0L) * 1000000L DIV n"))
      .groupBy(col("hr"), col("vb"), col("users"))
      .agg(sum(abs(col("pgrp") - col("pg"))).as("sad"))
      .withColumn("tv_ppm", expr("sad DIV 2"))
    tv.filter(col("users") >= K)
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("k_anon_groups"),
        sum(when(col("tv_ppm") > TvT, 1L).otherwise(0L)).as("t_breaching"),
        max(col("tv_ppm")).as("max_tv_ppm"))
      .withColumn("breach_share",
        Det.rate(col("t_breaching").cast("double") / col("k_anon_groups")))
      .orderBy(col("hr"))
  }

  private val q140Sql =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         CAST(extract(hour FROM ts) AS BIGINT) AS hr,
      |         CAST(floor(value / 50) AS BIGINT) AS vb
      |  FROM events
      |), gdist AS (
      |  SELECT event_type,
      |         CAST(count(*) AS BIGINT) * 1000000
      |           // CAST(sum(count(*)) OVER () AS BIGINT) AS pg
      |  FROM ev GROUP BY 1
      |), grp AS (
      |  SELECT hr, vb, CAST(count(DISTINCT user_id) AS BIGINT) AS users,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM ev GROUP BY 1, 2
      |), cnt AS (
      |  SELECT hr, vb, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM ev GROUP BY 1, 2, 3
      |), tv AS (
      |  SELECT grp.hr, grp.vb, grp.users,
      |         CAST(sum(abs(COALESCE(cnt.c, 0) * 1000000 // grp.n - gdist.pg)) // 2
      |              AS BIGINT) AS tv_ppm
      |  FROM grp CROSS JOIN gdist
      |  LEFT JOIN cnt ON cnt.hr = grp.hr AND cnt.vb = grp.vb
      |              AND cnt.event_type = gdist.event_type
      |  GROUP BY 1, 2, 3
      |)
      |SELECT hr, CAST(count(*) AS BIGINT) AS k_anon_groups,
      |       CAST(sum(CASE WHEN tv_ppm > 200000 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS t_breaching,
      |       CAST(max(tv_ppm) AS BIGINT) AS max_tv_ppm,
      |       floor(CAST(sum(CASE WHEN tv_ppm > 200000 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1e6 + 0.5) / 1e6 AS breach_share
      |FROM tv WHERE users >= 5
      |GROUP BY 1 ORDER BY hr""".stripMargin

  // --------------------------------------------------------------- q154
  /** ε-differentially-private histogram release (Dwork et al. 2006 —
    * the Laplace mechanism): the MECHANISM that completes the privacy
    * family — q95/q127/q140 AUDIT a release for k-anonymity /
    * l-diversity / t-closeness risk; this produces the actually-safe
    * artifact: per (hour, event_type) counts with Laplace(1/ε) noise,
    * over the ZERO-FILLED full domain (absence is protected too — an
    * attacker cannot distinguish "no events" from "few events") and
    * clamped at 0 (post-processing, DP-preserved). Counting queries
    * have sensitivity 1, so b = 1/ε; ε = 0.5.
    *
    * Exactness discipline: the noise is the exact inverse-CDF
    * transform of a SEEDED md5 uniform (u = 48-bit prefix of
    * md5("dp:hr:type") in [1, 999999]) — u < ½ → b·ln(2u), else
    * −b·ln(2(1−u)) — with the ln taken by the graft_ln_small
    * milli-nat ladder, so the released values are exact BIGINTs and
    * bit-identical in both engines. Determinism is TEST-GRADE
    * publishing hygiene, not a DP weakness of the mechanism shape:
    * production swaps the hash for a CSPRNG draw per release (a
    * PUBLIC fixed seed would void the guarantee); everything else —
    * domain, sensitivity, clamp, the ladder transform — ships as-is.
    *
    * Scale: one map-side-combined count over events + a
    * |hours|·|types| zero-fill domain (both bounded); the noise is
    * scan-side arithmetic on the domain frame. The release composes:
    * per-shard counts merge by + BEFORE noising (noise once, at the
    * end — noising shards separately would add k noises). */
  private val DpEpsMilli = 500L
  private val DpScaleB = 2L

  private def q154(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(hour(col("ts")).cast("long").as("hr"), col("event_type"))
    val counts = ev.groupBy(col("hr"), col("event_type")).agg(count(lit(1)).as("c"))
    val domain = ev.select(col("hr")).distinct()
      .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
    domain.join(counts, Seq("hr", "event_type"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("u",
        (conv(substring(md5(concat_ws(":", lit("dp"), col("hr"), col("event_type"))),
          1, 12), 16, 10).cast("bigint") % 999999L) + 1L)
      .withColumn("noise_milli",
        when(col("u") < 500000L,
          lit(DpScaleB) * EventQueries.lnSmallWeight(col("u"), lit(500000L)))
          .otherwise(-lit(DpScaleB) *
            EventQueries.lnSmallWeight(lit(1000000L) - col("u"), lit(500000L))))
      .select(col("hr"), col("event_type"),
        greatest(lit(0L), expr("c * 1000") + col("noise_milli"))
          .as("released_milli"),
        lit(DpEpsMilli).as("eps_milli"))
      .orderBy(col("hr"), col("event_type"))
  }

  private val q154Sql = {
    val lnNeg = EventQueries.lnSmallWeightSql("u", "500000")
    val lnPos = EventQueries.lnSmallWeightSql("1000000 - u", "500000")
    s"""WITH ev AS (
       |  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hr, event_type
       |  FROM events
       |), cnt AS (
       |  SELECT hr, event_type, CAST(count(*) AS BIGINT) AS c
       |  FROM ev GROUP BY 1, 2
       |), dom AS (
       |  SELECT h.hr, t.event_type
       |  FROM (SELECT DISTINCT hr FROM ev) h,
       |       (SELECT DISTINCT event_type FROM ev) t
       |), base AS (
       |  SELECT dom.hr, dom.event_type, COALESCE(cnt.c, 0) AS c,
       |         (CAST('0x' || substr(md5('dp:' || CAST(dom.hr AS VARCHAR) || ':'
       |                                  || dom.event_type), 1, 12) AS BIGINT)
       |          % 999999) + 1 AS u
       |  FROM dom LEFT JOIN cnt USING (hr, event_type)
       |), noise AS (
       |  SELECT *, CASE WHEN u < 500000 THEN $DpScaleB * $lnNeg
       |                 ELSE -$DpScaleB * $lnPos END AS noise_milli
       |  FROM base
       |)
       |SELECT hr, event_type,
       |       CAST(greatest(0, c * 1000 + noise_milli) AS BIGINT)
       |         AS released_milli,
       |       CAST($DpEpsMilli AS BIGINT) AS eps_milli
       |FROM noise ORDER BY hr, event_type""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q46_distribution_rank", Some(q46Sql), q46, aqe = false),
    QuerySpec("q47_fuzzy_levenshtein", Some(q47Sql), q47),
    QuerySpec("q48_ordered_array_agg", Some(q48Sql), q48),
    QuerySpec("q49_profile", Some(q49Sql), q49),
    QuerySpec("q64_key_skew_profile", Some(q64Sql), q64),
    QuerySpec("q65_snapshot_diff", Some(q65Sql), q65),
    QuerySpec("q81_equiwidth_histogram", Some(q81Sql), q81),
    QuerySpec("q82_join_size_estimate", Some(q82Sql), q82),
    QuerySpec("q95_k_anonymity", Some(q95Sql), q95),
    QuerySpec("q121_feature_corr", Some(q121Sql), q121),
    QuerySpec("q127_l_diversity", Some(q127Sql), q127),
    QuerySpec("q136_cms_heavy_hitters", Some(q136Sql), q136, aqe = false),
    QuerySpec("q139_length_outliers", Some(q139Sql), q139),
    QuerySpec("q140_t_closeness", Some(q140Sql), q140),
    QuerySpec("q154_dp_release", Some(q154Sql), q154),
  )
}
