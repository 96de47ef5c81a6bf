package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window operators over `events` — the batch twins of the
  * Structured Streaming parity suite (SURVEY §2.10). Each query here
  * uses the SAME window/aggregation expressions a `readStream` pipeline
  * would (`window()`, `session_window()`), executed in batch mode so the
  * DuckDB oracle can check them; the streaming forms are twins beside
  * their specs in src/test's graft.streaming. Timestamps surface as
  * epoch millis (BIGINT) — raw timestamp hashing across engines is
  * precision-fragile.
  */
object EventQueries {

  // --------------------------------------------------------------- q160
  /** Watermark-lateness audit — the table that SIZES a watermark
    * delay before deploying any of this file's streaming twins: under
    * Structured Streaming's rule an event is dropped iff its event
    * time has fallen more than the delay behind the maximum event
    * time seen so far, so for a delay ladder of 1m/5m/15m/1h this
    * reports exactly how many events the stream would drop, in ppm,
    * plus the observed lateness tail (max and count of out-of-order
    * arrivals at all). Arrival order is event_id (the generator's
    * ingest sequence); lateness is computed in exact microseconds
    * against the running event-time maximum.
    *
    * Scale: the running max needs the arrival order — it runs as ONE
    * unpartitioned window over the narrow (event_id, ts) projection
    * (16 B/event; the standard two-pass per-partition-max + offset
    * prefix scan replaces it where one partition won't hold the
    * projection). The ladder join then blows up EVENTS ×4 straight
    * into a map-side-combined 4-row aggregate. */
  private val LatenessLadderSec = Seq(60L, 300L, 900L, 3600L)

  private def q160(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byArrival = org.apache.spark.sql.expressions.Window
      .orderBy(col("event_id")).rowsBetween(Long.MinValue, 0)
    val late = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("late_us", max(col("tus")).over(byArrival) - col("tus"))
    val ladder = LatenessLadderSec.toDF("delay_sec")
    late.crossJoin(ladder)
      .groupBy(col("delay_sec"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > col("delay_sec") * 1000000L, 1L).otherwise(0L))
          .as("dropped_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("out_of_order_events"),
        max(col("late_us")).as("max_late_us"))
      .withColumn("dropped_ppm", expr("(dropped_events * 1000000) DIV n_events"))
      .select(col("delay_sec"), col("n_events"), col("out_of_order_events"),
        col("dropped_events"), col("dropped_ppm"),
        expr("max_late_us DIV 1000000").as("max_late_sec"))
      .orderBy(col("delay_sec"))
  }

  private val q160Sql =
    s"""WITH e AS (
       |  SELECT event_id, epoch_us(ts) AS tus FROM events
       |), l AS (
       |  SELECT event_id, tus,
       |         max(tus) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) - tus
       |           AS late_us
       |  FROM e
       |), ladder AS (
       |  SELECT CAST(unnest([${LatenessLadderSec.mkString(", ")}]) AS BIGINT)
       |    AS delay_sec
       |)
       |SELECT delay_sec, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS out_of_order_events,
       |       CAST(sum(CASE WHEN late_us > delay_sec * 1000000 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS dropped_events,
       |       (CAST(sum(CASE WHEN late_us > delay_sec * 1000000 THEN 1 ELSE 0 END)
       |             AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS dropped_ppm,
       |       CAST(max(late_us) AS BIGINT) // 1000000 AS max_late_sec
       |FROM l CROSS JOIN ladder
       |GROUP BY delay_sec ORDER BY delay_sec""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Tumbling 1-hour windows per event_type (groupBy(window(...)) — the
    * literal streaming aggregation in batch mode). */
  private def q30(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.rnd(sum(col("value")), 4).as("sum_value"))
      .select(unix_millis(col("w.start")).as("bucket_ms"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  private val q30Sql =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
      | count(*) AS n, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Sliding 1-hour windows every 15 minutes: each event lands in 4
    * overlapping windows. The oracle reconstructs Spark's window
    * assignment with generate_series over aligned bucket starts. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.rnd(sum(col("value")), 4).as("sum_value"))
      .select(unix_millis(col("w.start")).as("bucket_ms"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  private val q31Sql =
    """SELECT epoch_ms(ws) AS bucket_ms, event_type,
      | count(*) AS n, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM (
      |  SELECT unnest(generate_series(time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL 45 MINUTE,
      |                                time_bucket(INTERVAL 15 MINUTE, ts),
      |                                INTERVAL 15 MINUTE)) AS ws,
      |         event_type, value
      |  FROM events
      |) t GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Session windows (30-minute gap) per user — `session_window()` in
    * batch mode; the oracle sessionizes with the classic lag+cumsum
    * construction (gap ≥ 30min starts a new session, matching Spark's
    * half-open [start, start+gap) merge rule). */
  private def q32(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Det.rnd(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_ms"))

  private val q32Sql =
    """WITH t AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events
      |), se AS (
      |  SELECT user_id, ts, value,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM t
      |)
      |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
      |       count(*) AS n_events, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM se GROUP BY user_id, sess ORDER BY user_id, session_start_ms""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Non-equi range join ⊕: pairs of events by the same user within 10
    * minutes — the BANDED rewrite of the interval join engines without
    * an IEJoin run (DuckDB's operator; Spark has none). Each side gets
    * a 10-minute time bucket; since 0 < ts_b − ts_a ≤ 10 min forces
    * bucket_b ∈ {bucket_a, bucket_a+1}, the left side probes those two
    * buckets (a 2× explode of narrow rows) and the join is pure EQUI on
    * (user, bucket) — each qualifying pair matches exactly one probe
    * (b's bucket is a single value), so no dedup is needed, and the
    * exact range predicate filters the bucket-mates.
    *
    * Scale: the round-≤9 form was equi on user_id alone with the range
    * predicate as a within-partition theta filter — safe but O(per-user
    * events²) per user; the band key bounds the theta work to one
    * 10-minute bucket's population per probe AND spreads hot users over
    * time (the (user, bucket) key is finer than user, so a bursty user
    * no longer lands on one reducer). */
  private val BandSec = 600L

  private def q33(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val a = ev.select(
        col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
      .withColumn("bka", expr(s"unix_seconds(ts_a) DIV $BandSec"))
      .withColumn("bkt", explode(array(col("bka"), col("bka") + 1L)))
    val b = ev.select(
        col("user_id").as("user_b"), col("ts").as("ts_b"), col("event_id").as("id_b"))
      .withColumn("bktb", expr(s"unix_seconds(ts_b) DIV $BandSec"))
    a.join(b,
        col("user_id") === col("user_b") && col("bkt") === col("bktb") &&
          (col("ts_b") > col("ts_a") ||
            (col("ts_b") === col("ts_a") && col("id_b") > col("id_a"))) &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy(col("user_id"))
  }

  private val q33Sql =
    """SELECT a.user_id, count(*) AS pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
      | AND b.ts <= a.ts + INTERVAL 10 MINUTE
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Stateful-dedup batch twin (streaming dropDuplicates under
    * watermark): first event per (user_id, event_type) in (ts, event_id)
    * order. */
  private def q34(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), unix_millis(col("ts")).as("first_ts_ms"))
      .orderBy(col("user_id"), col("event_type"))

  private val q34Sql =
    """SELECT user_id, event_type, event_id AS first_event_id, epoch_ms(ts) AS first_ts_ms
      |FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |  FROM events
      |) t WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Funnel analysis: per user, how far through the ordered
    * view → click → purchase funnel their event sequence gets
    * (subsequence match, not adjacency), then the user count and share
    * per funnel depth. ONE groupBy(user) builds the ordered event-type
    * sequence (struct sort carries (ts, event_id) as the deterministic
    * tiebreak), the depth is a regex subsequence test, and the final
    * rollup is a 4-row aggregate.
    *
    * Scale: the heavy shuffle is per-user event lists — bounded by
    * per-user activity, the same state a sessionization pipeline holds;
    * no self-joins (the naive funnel formulation is k-1 self-joins). */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val seqs = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"))
        .as("seq"))
    val depth = when(col("seq").rlike("view.*click.*purchase"), 3L)
      .when(col("seq").rlike("view.*click"), 2L)
      .when(col("seq").rlike("view"), 1L)
      .otherwise(0L)
    val perDepth = seqs.select(depth.as("funnel_depth"))
      .groupBy(col("funnel_depth")).agg(count(lit(1)).as("users"))
    Share.of(perDepth, "users", "share")
      .orderBy(col("funnel_depth"))
  }

  private val q61Sql =
    """WITH seqs AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id
      |),
      |d AS (
      |  SELECT CAST(CASE WHEN regexp_matches(seq, 'view.*click.*purchase') THEN 3
      |              WHEN regexp_matches(seq, 'view.*click') THEN 2
      |              WHEN regexp_matches(seq, 'view') THEN 1
      |              ELSE 0 END AS BIGINT) AS funnel_depth
      |  FROM seqs
      |),
      |p AS (SELECT funnel_depth, count(*) AS users FROM d GROUP BY funnel_depth)
      |SELECT funnel_depth, users,
      |       floor((CAST(users AS DOUBLE) / sum(users) OVER ()) * 1e6 + 0.5) / 1e6 AS share
      |FROM p ORDER BY funnel_depth""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Cohort retention: users bucketed by first-activity week, retention
    * counted as distinct users active at each week offset from their
    * own cohort day. Two hash aggregations (per-user first day, then
    * the cohort × offset matrix) — the standard warehouse shape, no
    * self-join of the fact table.
    *
    * Scale: the fact table shuffles once by user for the first-day agg
    * and once pre-aggregated (user, cohort, offset) distinct rows for
    * the matrix; both shrink with activity density. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val withDay = Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
    val firstDay = withDay.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
    withDay
      .join(firstDay, Seq("user_id"))
      // explicit floor() on BOTH sides: Spark's cast-truncate and DuckDB's
      // `//` disagree on negative day-diffs (and `//` itself changed
      // truncate→floor across DuckDB versions), so neither implicit form
      // is portable. week_offset is ≥ 0 by construction but cohort_week
      // goes negative for any event before the 2024-01-01 epoch.
      .select(col("user_id"),
        floor(datediff(col("first_d"), lit("2024-01-01").cast("date")) / 7)
          .cast("long").as("cohort_week"),
        floor(datediff(col("d"), col("first_d")) / 7).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q62Sql =
    """WITH wd AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |fd AS (SELECT user_id, min(d) AS first_d FROM wd GROUP BY user_id)
      |SELECT CAST(floor(date_diff('day', DATE '2024-01-01', first_d) / 7) AS BIGINT) AS cohort_week,
      |       CAST(floor(date_diff('day', first_d, d) / 7) AS BIGINT) AS week_offset,
      |       CAST(count(DISTINCT wd.user_id) AS BIGINT) AS users
      |FROM wd JOIN fd ON fd.user_id = wd.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Event-type transition matrix (first-order Markov chain over each
    * user's event sequence): per (current, next) pair, the transition
    * count and P(next | current). One shuffle by user for the lead()
    * window, then a hash aggregation whose output is |types|² rows —
    * the per-row probability window runs on that tiny aggregate, so the
    * fact table is never re-shuffled. Order within a user is total
    * (ts, event_id), so lead() is deterministic in both engines. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byCur = Window.partitionBy(col("cur_type"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur_type"))
      .withColumn("next_type", lead(col("cur_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        Det.rate(col("n").cast("double") / sum(col("n")).over(byCur)))
      .orderBy(col("cur_type"), col("next_type"))
  }

  private val q67Sql =
    """WITH seq AS (
      |  SELECT user_id, event_type AS cur_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n,
      |       floor(CAST(count(*) AS DOUBLE)
      |             / CAST(sum(count(*)) OVER (PARTITION BY cur_type) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS prob
      |FROM seq WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Top user journeys: each user's first 5 events as an ordered path
    * string, ranked by how many users share the exact path — the
    * product-analytics companion to q61 (does a KNOWN sequence occur)
    * and q67 (pairwise transitions): here the full path IS the group
    * key. Order inside the collected list is made deterministic by
    * sorting structs on the row_number, never by collect_list's
    * arrival order (shuffle-dependent). One shuffle by user, then a
    * hash agg whose keys are ≤ |types|⁵ strings. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(rn, event_type))), p -> p.event_type)")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("users").desc, col("path"))
      .limit(10)
  }

  private val q73Sql =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM seq WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, CAST(count(*) AS BIGINT) AS users
      |FROM p GROUP BY path ORDER BY users DESC, path LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q74
  /** HLL SKETCH ROLLUP (DataSketches): per-day sketches of distinct
    * users built once, then re-aggregated by union into per-type
    * distinct estimates — the warehouse pre-aggregation pattern q16
    * (direct approx_count_distinct) cannot express: sketches are DATA
    * here, storable in a daily rollup table and mergeable across any
    * dimension later without rescanning the facts. At 100 TB the daily
    * scan happens once; every downstream distinct query unions
    * kilobyte sketches.
    *
    * Oracle contract (same discipline as q16/q53): the engine-specific
    * estimate is never hashed — the output is the exact count plus a
    * within-tolerance boolean. lgK=14 → rsd ≈ 0.8%, checked at 5%
    * (≈ 6σ); sketch build and union are register-max semantics, so the
    * estimate is deterministic for a fixed input set. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"), col("user_id"))
      .groupBy(col("event_type"), col("d"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val merged = daily
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx"))
    val exact = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) / col("exact_users") <= 0.05)
          .as("within_tol"))
      .orderBy(col("event_type"))
  }

  private val q74Sql =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Distribution-drift monitor between two time windows (the
    * data-quality gate a continuously-ingesting pipeline runs per
    * batch): per event type, bucket values into 10 equi-width bins
    * whose bounds come from the REFERENCE window (baseline-defined
    * bins — current-window outliers clamp into the edge bins), then
    * compare per-bin shares. The drift statistic is the L2 distance
    * between MILLI-SHARE histograms: each share is discretized to
    * parts-per-million by exact integer division, so the statistic —
    * Σ(qᵢ−pᵢ)², like a PSI without its `ln()` — is pure 64-bit integer
    * arithmetic, bit-identical across engines and cluster layouts
    * (the standing no-`ln`-in-hashed-output rule).
    *
    * Scale: bin bounds are a |types|-row broadcast; bucketing happens
    * scan-side; everything after the (type, window, bin) count — ≤
    * 20·|types| rows — is free. Missing bins enter as zero via the
    * full-outer bin join, so a bin emptying out IS drift. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("value"), (col("ts") >= split).as("is_cur"))
    val rng = ev.filter(!col("is_cur")).groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val bucketed = ev.join(broadcast(rng), Seq("event_type"))
      .withColumn("bucket",
        when(col("hi") === col("lo"), 0L)
          .otherwise(greatest(least(
            floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10))
              .cast("long"),
            lit(9L)), lit(0L))))
    // ONE events pass (round 15): the old counts→tot→milli→p⨝q chain
    // referenced the counts frame four ways, and Spark re-executes
    // every DataFrame REFERENCE from scratch — the r13 fix was an
    // eager localCheckpoint waist, which cost a fixed extra job and
    // amplified host jitter at bench scale (r13 verdict), and the r14
    // scale gate that removed it regressed the sibling q88/q89 1.5–2×
    // (the replays came back). Pivoting the window split into parallel
    // conditional counts removes the re-reference entirely: one
    // (event_type, bucket) aggregate, per-type totals via a window
    // over the ≤ 20·|types|-row frame, no waist needed at ANY scale.
    // Equivalence to the full-outer p⨝q (the oracle's unchanged
    // shape): a (type, bucket) group exists iff ≥ 1 row fell in it in
    // either window — exactly the full join's key set; a side missing
    // from the join (NULL → COALESCE 0) has cq/cp = 0 here and
    // (0 * 1000000) div n = 0 — the same value, all integer ops.
    val counts = bucketed.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("is_cur"), 1L).otherwise(0L)).as("cq"),
        sum(when(col("is_cur"), 0L).otherwise(1L)).as("cp"))
    val w = Window.partitionBy(col("event_type"))
    // np ≥ 1 for every surviving type (bucketed inner-joins rng, so
    // each type has reference rows); nq = 0 drops the type exactly
    // like the old inner join on tot(is_cur) did.
    val shares = counts
      .withColumn("nq", sum(col("cq")).over(w))
      .withColumn("np", sum(col("cp")).over(w))
      .filter(col("nq") > 0)
      .select(col("event_type"), col("np"), col("nq"),
        expr("(cp * 1000000) div np").as("pi"),
        expr("(cq * 1000000) div nq").as("qi"))
    shares.groupBy(col("event_type"))
      .agg(max(col("np")).as("ref_n"), max(col("nq")).as("cur_n"),
        sum((col("qi") - col("pi")) * (col("qi") - col("pi"))).as("drift_l2_milli"),
        max(abs(col("qi") - col("pi"))).as("max_bucket_shift"))
      .select(col("event_type"), col("ref_n"), col("cur_n"),
        col("drift_l2_milli"), col("max_bucket_shift"))
      .orderBy(col("event_type"))
  }

  private val q85Sql =
    """WITH ev AS (
      |  SELECT event_type, value,
      |         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS is_cur
      |  FROM events
      |), rng AS (
      |  SELECT event_type, min(value) AS lo, max(value) AS hi
      |  FROM ev WHERE NOT is_cur GROUP BY 1
      |), b AS (
      |  SELECT e.event_type, e.is_cur,
      |         CASE WHEN r.hi = r.lo THEN 0
      |              ELSE greatest(least(CAST(floor((e.value - r.lo)
      |                     / ((r.hi - r.lo) / 10)) AS BIGINT), 9), 0)
      |         END AS bucket
      |  FROM ev e JOIN rng r ON e.event_type = r.event_type
      |), c AS (
      |  SELECT event_type, is_cur, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM b GROUP BY 1, 2, 3
      |), t AS (
      |  SELECT event_type, is_cur, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1, 2
      |), m AS (
      |  SELECT c.event_type, c.is_cur, c.bucket,
      |         CAST((c.c * 1000000) // t.n AS BIGINT) AS mshare
      |  FROM c JOIN t ON c.event_type = t.event_type AND c.is_cur = t.is_cur
      |), p AS (SELECT event_type, bucket, mshare FROM m WHERE NOT is_cur),
      |q AS (SELECT event_type, bucket, mshare FROM m WHERE is_cur),
      |j AS (
      |  SELECT COALESCE(p.event_type, q.event_type) AS event_type,
      |         COALESCE(p.mshare, 0) AS pi, COALESCE(q.mshare, 0) AS qi
      |  FROM p FULL OUTER JOIN q
      |    ON p.event_type = q.event_type AND p.bucket = q.bucket
      |), d AS (
      |  SELECT event_type,
      |         CAST(sum((qi - pi) * (qi - pi)) AS BIGINT) AS drift_l2_milli,
      |         CAST(max(abs(qi - pi)) AS BIGINT) AS max_bucket_shift
      |  FROM j GROUP BY 1
      |)
      |SELECT d.event_type, tr.n AS ref_n, tc.n AS cur_n,
      |       d.drift_l2_milli, d.max_bucket_shift
      |FROM d JOIN t tr ON tr.event_type = d.event_type AND NOT tr.is_cur
      |       JOIN t tc ON tc.event_type = d.event_type AND tc.is_cur
      |ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------- q86
  /** SCD-2 history build: turn the event stream into validity-interval
    * rows — for each (user, type), keep only CHANGE points (value
    * differs from the previous event) and close each interval at the
    * next change's timestamp (the warehouse "type-2 slowly changing
    * dimension" from an append-only log; q60 is its SCD-1 latest-only
    * sibling). Change detection (lag) and interval close (lead over the
    * surviving rows) share ONE window partitioning, so the whole
    * history build is a single shuffle by (user, type). Sampled to
    * user_id % 50 to bound driver-checked output; timestamps surface
    * as epoch-ms with -1 for the open interval (NULL-free output
    * hashes portably). */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(s, dir)
      .filter(col("user_id") % 50 === 0)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .filter(col("prev_value").isNull || col("value") =!= col("prev_value"))
    changes
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_millis(ts)").as("valid_from_ms"),
        coalesce(expr("unix_millis(next_ts)"), lit(-1L)).as("valid_to_ms"))
      .orderBy(col("user_id"), col("event_type"), col("valid_from_ms"))
  }

  private val q86Sql =
    """WITH ch AS (
      |  SELECT * FROM (
      |    SELECT user_id, event_type, value, ts, event_id,
      |           lag(value) OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts, event_id) AS prev_value
      |    FROM events WHERE user_id % 50 = 0) t
      |  WHERE prev_value IS NULL OR value <> prev_value
      |)
      |SELECT user_id, event_type, value,
      |       epoch_ms(ts) AS valid_from_ms,
      |       COALESCE(epoch_ms(lead(ts) OVER (PARTITION BY user_id, event_type
      |                                        ORDER BY ts, event_id)), -1)
      |         AS valid_to_ms
      |FROM ch
      |ORDER BY user_id, event_type, valid_from_ms""".stripMargin

  // ------------------------------------------------------- q88/q89 shared
  /** Ratio-class ln lookup shared by q88 (PSI), q89 (JSD) and the
    * streaming drift monitor: each class is bounded by an EXACT
    * rational (num/den, tested with cross-multiplied 64-bit compares —
    * no division, no transcendental) and carries ⌊1000·ln(geometric
    * midpoint)⌉ milli-nats as a hard-coded spec constant. q88 uses the
    * full ladder (ratios unbounded above); q89's midpoint ratios live
    * in (0, 2], so its ladder stops at the [4/3, 2] class. */
  private val RatioClasses: Seq[(Int, Int, Long)] = Seq(
    (1, 4, -2079L), (1, 2, -1040L), (3, 4, -490L), (9, 10, -197L),
    (11, 10, 0L), (4, 3, 191L), (2, 1, 490L), (4, 1, 1040L))

  /** milli-nat ln of num/den via the class ladder (first `take` classes,
    * else `top`). Column form; `num`/`den` must be ≥ 1 BIGINT exprs. */
  private def classWeight(num: Column, den: Column, take: Int, top: Long): Column =
    RatioClasses.take(take).foldRight(lit(top)) { case ((n, d, w), rest) =>
      when(num * d < den * n, w).otherwise(rest)
    }

  /** Same ladder as SQL text (for the DuckDB oracles). */
  private[graft] def classWeightSql(num: String, den: String, take: Int, top: Long): String =
    RatioClasses.take(take).map { case (n, d, w) =>
      s"WHEN ($num) * $d < ($den) * $n THEN $w"
    }.mkString("(CASE ", " ", s" ELSE $top END)")

  /** PSI ratio weight for smoothed shares a (current) vs b (reference):
    * full 8-class ladder, top class r ≥ 4 → +2079. Shared with the
    * streaming monitor. */
  private[graft] def psiWeight(a: Column, b: Column): Column =
    classWeight(a, b, RatioClasses.length, 2079L)

  /** JSD midpoint-ratio weight (q89's 6-class ladder — ratios to the
    * midpoint live in (0, 2], so it closes at the [4/3, 2] class,
    * weight 490). Shared with q132's source-distribution JSD so the
    * two JSD forms can never disagree on the quantization. */
  private[graft] def jsdWeight(num: Column, den: Column): Column =
    classWeight(num, den, 6, 490L)

  // --------------------------------------------------- small-ratio ladder
  /** Extension of the ladder to SMALL rationals num/den ∈ (0, 1] —
    * probabilities, where [[classWeight]]'s classes (built for
    * near-1 drift ratios) would clamp everything below 1/4 to one
    * value. Two exact stages: the dyadic exponent e (r ∈ [2⁻ᵉ, 2⁻ᵉ⁺¹))
    * is found by ascending shifted compares num·2ᵉ ≥ den, then the
    * mantissa m = r·2ᵉ ∈ [1, 2) refines into 4 classes at 5/4, 3/2,
    * 7/4. The weight is ⌊1000·ln(geometric class midpoint)⌉ milli-nats
    * — integer constants from [[graft.functions.LnSmallKernel]]'s one
    * table, over pure 64-bit compares, so engines and forms agree bit
    * for bit. Ratios below 2⁻⁴⁰ clamp to the [2⁻⁴¹, 2⁻⁴⁰) midpoint.
    * Overflow-safe: branches evaluate in order, so the largest product
    * actually computed is < 8·den. */

  /** Column form (the NATIVE codegen expression — two child evals +
    * one static call; see [[graft.functions.LnSmall]], registered as
    * `graft_ln_small` by GraftExtensions, which every entry point
    * installs). `num`/`den` must be ≥ 1 BIGINT exprs with num ≤ den. */
  private[graft] def lnSmallWeight(num: Column, den: Column): Column =
    call_function("graft_ln_small", num, den)

  /** Same ladder as SQL text (for the DuckDB oracles) — generated
    * from the kernel's constant table. */
  private[graft] def lnSmallWeightSql(num: String, den: String): String = {
    val k = graft.functions.LnSmallKernel
    val branches = (0 to k.MaxE).map { e =>
      val t = k.table(e)
      s"WHEN ($num) * ${1L << e} >= ($den) THEN " +
        s"(CASE WHEN ($num) * ${4L << e} < ($den) * 5 THEN ${t(0)} " +
        s"WHEN ($num) * ${2L << e} < ($den) * 3 THEN ${t(1)} " +
        s"WHEN ($num) * ${4L << e} < ($den) * 7 THEN ${t(2)} " +
        s"ELSE ${t(3)} END)"
    }
    branches.mkString("(CASE ", " ", s" ELSE ${k.Bottom} END)")
  }

  /** Shared q88/q89 smoothing pipeline → one row per (event_type,
    * bucket) with smoothed ppm shares a = qᵢ+1 (current window) and
    * b = pᵢ+1 (reference window). Events LEFT-join the reference
    * bounds so a type with NO reference-window rows — a brand-new
    * type, the loudest drift signal — lands in bucket 0 and scores,
    * exactly like the streaming monitor (the batch q85 keeps its
    * documented ref-types-only semantics). Scale: broadcast bounds,
    * scan-side bucketing, ≤ 20·|types| rows after the first agg. */
  private def smoothedShares(s: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("value"), (col("ts") >= split).as("is_cur"))
    val rng = ev.filter(!col("is_cur")).groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val bucketed = ev.join(broadcast(rng), Seq("event_type"), "left")
      .withColumn("bucket",
        when(col("lo").isNull || col("hi") === col("lo"), 0L)
          .otherwise(greatest(least(
            floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10))
              .cast("long"),
            lit(9L)), lit(0L))))
    // ONE events pass (round 15, same move as q85): the counts frame
    // was referenced by tot, milli and the p⨝q full join, and each
    // reference replayed the events scan+bucket chain at small scale
    // once the r14 gate disabled the checkpoint waist (q88 0.61→0.90,
    // q89 0.59→1.18 s — the r14 verdict's one plan-corroborated
    // regression). The pivoted single aggregate + per-type window
    // removes the re-reference at every scale, waist deleted.
    // Equivalence: group exists ⟺ either window has rows there (the
    // full join's key set); a NULL side (COALESCE(x, 0) + 1 = 1) has
    // c = 0 here and (0 * 1000000) div n + 1 = 1 — same value; nq = 0
    // (type with NO current rows) makes every cq = 0 → a = 1, exactly
    // the full join's missing-q side, guarded against 0 div 0.
    val counts = bucketed.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("is_cur"), 1L).otherwise(0L)).as("cq"),
        sum(when(col("is_cur"), 0L).otherwise(1L)).as("cp"))
    val w = Window.partitionBy(col("event_type"))
    counts
      .withColumn("nq", sum(col("cq")).over(w))
      .withColumn("np", sum(col("cp")).over(w))
      .select(col("event_type"),
        (when(col("nq") > 0, expr("(cq * 1000000) div nq"))
          .otherwise(0L) + 1L).as("a"),
        (when(col("np") > 0, expr("(cp * 1000000) div np"))
          .otherwise(0L) + 1L).as("b"))
  }

  /** Shared oracle-SQL prefix for q88/q89: CTEs ev→rng→b→c→t→m→p→q→j,
    * ending at j(event_type, a, b) — mirrors smoothedShares exactly
    * (LEFT JOIN bounds, bucket-0 default for unseen types). */
  private val smoothedSharesSql =
    """WITH ev AS (
      |  SELECT event_type, value,
      |         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS is_cur
      |  FROM events
      |), rng AS (
      |  SELECT event_type, min(value) AS lo, max(value) AS hi
      |  FROM ev WHERE NOT is_cur GROUP BY 1
      |), b AS (
      |  SELECT e.event_type, e.is_cur,
      |         CASE WHEN r.event_type IS NULL OR r.hi = r.lo THEN 0
      |              ELSE greatest(least(CAST(floor((e.value - r.lo)
      |                     / ((r.hi - r.lo) / 10)) AS BIGINT), 9), 0)
      |         END AS bucket
      |  FROM ev e LEFT JOIN rng r ON e.event_type = r.event_type
      |), c AS (
      |  SELECT event_type, is_cur, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM b GROUP BY 1, 2, 3
      |), t AS (
      |  SELECT event_type, is_cur, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1, 2
      |), m AS (
      |  SELECT c.event_type, c.is_cur, c.bucket,
      |         CAST((c.c * 1000000) // t.n AS BIGINT) AS mshare
      |  FROM c JOIN t ON c.event_type = t.event_type AND c.is_cur = t.is_cur
      |), p AS (SELECT event_type, bucket, mshare FROM m WHERE NOT is_cur),
      |q AS (SELECT event_type, bucket, mshare FROM m WHERE is_cur),
      |j AS (
      |  SELECT COALESCE(p.event_type, q.event_type) AS event_type,
      |         COALESCE(q.mshare, 0) + 1 AS a, COALESCE(p.mshare, 0) + 1 AS b
      |  FROM p FULL OUTER JOIN q
      |    ON p.event_type = q.event_type AND p.bucket = q.bucket
      |)""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Population-Stability-Index drift between the q85 windows — the
    * "real PSI" companion to q85's ln-free L2. PSI = Σ_bins
    * (qᵢ−pᵢ)·ln(qᵢ/pᵢ) needs a logarithm, and transcendentals are
    * banned from hashed output (different engines round the last ulp
    * differently), so the ln is the fixed RatioClasses lookup above.
    * Signs agree with true PSI (qᵢ>pᵢ ⟺ weight ≥ 0), so every term is
    * ≥ 0 and psi_scaled = Σ(qᵢ−pᵢ)·w is PSI × 10⁹ up to class
    * quantization — deterministic 64-bit integer arithmetic end to
    * end. The classic "investigate" rule PSI > 0.2 becomes
    * psi_scaled > 200 000 000. */
  private def q88(s: SparkSession, dir: String): DataFrame =
    smoothedShares(s, dir)
      .groupBy(col("event_type"))
      .agg(sum((col("a") - col("b")) * psiWeight(col("a"), col("b"))).as("psi_scaled"))
      .withColumn("drifted", col("psi_scaled") > 200000000L)
      .orderBy(col("event_type"))

  private val q88Sql =
    s"""$smoothedSharesSql, s AS (
       |  SELECT event_type,
       |         CAST(sum((a - b) * ${classWeightSql("a", "b", 8, 2079L)}) AS BIGINT)
       |           AS psi_scaled
       |  FROM j GROUP BY 1
       |)
       |SELECT event_type, psi_scaled, psi_scaled > 200000000 AS drifted
       |FROM s ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Jensen-Shannon divergence between the same windows — the
    * symmetric, bounded companion to q88's PSI (JSD = ½KL(p‖m) +
    * ½KL(q‖m), m = (p+q)/2; always in [0, ln 2]). Both KL ratios are
    * ratios TO THE MIDPOINT — 2b/(a+b) and 2a/(a+b) — so they live in
    * (0, 2] and the RatioClasses ladder closes at its [4/3, 2] class
    * (weight 490). Σ(b·w_p + a·w_q) div 2 ≈ JSD × 10⁹. Output clamps
    * at zero: true JSD ≥ 0, but the class quantization over- and
    * under-estimates the two KL terms independently, so near-identical
    * windows can dip a few milli-units negative — both engines clamp
    * identically. ln 2 bound (693·10⁶ scaled) is spec-pinned. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val den = col("a") + col("b")
    def w(x: Column) = jsdWeight(x * 2, den)
    smoothedShares(s, dir)
      .groupBy(col("event_type"))
      .agg(sum(col("b") * w(col("b")) + col("a") * w(col("a"))).as("raw"))
      .select(col("event_type"), greatest(expr("raw div 2"), lit(0L)).as("jsd_scaled"))
      .orderBy(col("event_type"))
  }

  private val q89Sql =
    s"""$smoothedSharesSql, s AS (
       |  SELECT event_type,
       |    CAST(sum(
       |      b * ${classWeightSql("b * 2", "a + b", 6, 490L)} +
       |      a * ${classWeightSql("a * 2", "a + b", 6, 490L)}) AS BIGINT) AS raw
       |  FROM j GROUP BY 1
       |)
       |SELECT event_type, greatest(raw // 2, 0) AS jsd_scaled
       |FROM s ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q107
  /** Windowed aggregation over a ts RANGE SLICE — the scan-pruning twin
    * of q30. The range predicate sits on the scan-native µs `ts` column
    * ([[Tables.events]] r7 loader), so it reaches the parquet reader as
    * PushedFilters (row-group stats pruning); on a date-partitioned
    * production table the same predicate is the partition pruner. The
    * r6-era nanos loader DERIVED ts from `DIV` arithmetic, which
    * structurally blocked this pushdown — EventsPlanShapeSpec pins the
    * recovered behavior. */
  private def q107(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-22 00:00:00").cast("timestamp"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.rnd(sum(col("value")), 4).as("sum_value"))
      .select(unix_millis(col("w.start")).as("bucket_ms"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  private val q107Sql =
    """SELECT epoch_ms(date_trunc('day', ts)) AS bucket_ms, event_type,
      | count(*) AS n, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-22 00:00:00'
      |GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Two-sample Kolmogorov-Smirnov drift per event_type — the BINLESS
    * companion to q88/q89: PSI and JSD see drift through the reference
    * window's 10 equi-width buckets, so any shape change INSIDE a
    * bucket (a mode shifting within one decile of the range) is
    * invisible to them; the KS statistic D = max|CDF_ref − CDF_cur| is
    * sensitive at every observed value. Standard production monitoring
    * pairing: PSI for the "how much mass moved" magnitude, KS for the
    * "did the shape change anywhere" detector.
    *
    * Exactness: values quantize to centi-units (⌊100·v⌋ — both engines
    * compute the identical IEEE double product and floor), the CDF gap
    * maximizes as the INTEGER |cum_ref·N_cur − cum_cur·N_ref| (cross-
    * multiplied, no division until the end), ks_ppm = 10⁶·D div
    * (N_ref·N_cur). Fixed alarm threshold 50 000 ppm (D > 0.05).
    *
    * Scale: one scan → per-(type, centi-value) conditional counts (one
    * map-side-combined shuffle); the cumulative window then runs over
    * the QUANTIZED grid — bounded by the value range × 100, not by row
    * count — partitioned per type, so no global sort. Totals broadcast.
    * The cross-product max fits 64-bit while N_ref·N_cur·10⁶ < 2⁶³
    * (N ≈ 3·10⁶ per window); past that, pre-scale the cums to ppm —
    * same discipline as q88's shares. Types missing one window fall to
    * q88's new-type alarm; KS compares shapes, so it keeps its
    * both-windows-present contract explicit. */
  /** Shared q133/q138 kernel: per-(type, centi-quantized value)
    * conditional window counts with cumulative CDFs and totals —
    * one scan, one map-side-combined shuffle, windows over the
    * QUANTIZED grid only. Ends at (event_type, vq, r, c, cr, cc,
    * nr, nc) filtered to types present in both windows. */
  private def quantCdf(s: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    val cnt = Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("vq"),
        (col("ts") >= split).as("is_cur"))
      .groupBy(col("event_type"), col("vq"))
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("r"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("vq"))
    val tot = cnt.groupBy(col("event_type"))
      .agg(sum(col("r")).as("nr"), sum(col("c")).as("nc"))
    cnt
      .withColumn("cr", sum(col("r")).over(w))
      .withColumn("cc", sum(col("c")).over(w))
      .join(broadcast(tot), Seq("event_type"))
      .filter(col("nr") > 0 && col("nc") > 0)
  }

  /** The matching oracle CTE prefix (e → cnt → cum), ending at
    * cum(event_type, vq, r, c, cr, cc, nr, nc). */
  private val quantCdfSql =
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vq,
      |         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS is_cur
      |  FROM events
      |), cnt AS (
      |  SELECT event_type, vq,
      |         CAST(sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS r,
      |         CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, vq, r, c,
      |         sum(r) OVER (PARTITION BY event_type ORDER BY vq) AS cr,
      |         sum(c) OVER (PARTITION BY event_type ORDER BY vq) AS cc,
      |         sum(r) OVER (PARTITION BY event_type) AS nr,
      |         sum(c) OVER (PARTITION BY event_type) AS nc
      |  FROM cnt
      |)""".stripMargin

  private def q133(s: SparkSession, dir: String): DataFrame =
    quantCdf(s, dir)
      .groupBy(col("event_type"), col("nr"), col("nc"))
      .agg(max(abs(col("cr") * col("nc") - col("cc") * col("nr"))).as("dnum"))
      .select(col("event_type"), col("nr").as("n_ref"), col("nc").as("n_cur"),
        expr("(dnum * 1000000) DIV (nr * nc)").as("ks_ppm"))
      .withColumn("drifted", col("ks_ppm") > 50000L)
      .orderBy(col("event_type"))

  private val q133Sql =
    s"""$quantCdfSql, d AS (
      |  SELECT event_type, nr, nc, max(abs(cr * nc - cc * nr)) AS dnum
      |  FROM cum WHERE nr > 0 AND nc > 0
      |  GROUP BY 1, 2, 3
      |)
      |SELECT event_type, CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
      |       CAST((dnum * 1000000) // (nr * nc) AS BIGINT) AS ks_ppm,
      |       ((dnum * 1000000) // (nr * nc)) > 50000 AS drifted
      |FROM d ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q138
  /** Quantile drift — the actionable companion to q133: KS answers
    * "did the shape change anywhere", this answers "by how much and
    * where it hurts" with the P50/P95/P99 shifts every production SLO
    * and feature-drift dashboard reports. Same one-scan quantized-CDF
    * kernel ([[quantCdf]] — q133 and q138 share it verbatim, so the
    * two monitors can never disagree about the distribution they saw).
    *
    * Exactness: quantile_p = the smallest centi-value whose cumulative
    * count reaches ⌈p·N/100⌉ (= (p·N + 99) div 100 in integers) — the
    * discontinuous type-1 quantile, which both engines compute as a
    * conditional MIN over the shared grid; delta is a plain BIGINT
    * difference of centi-units. No interpolation, no doubles.
    *
    * Scale: rides quantCdf's bounded grid; the 3-percentile fanout
    * multiplies GRID rows, not events, and the final aggregate is
    * |types|·3 rows. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val pcts = Seq(50, 95, 99)
    quantCdf(s, dir)
      .select(col("*"), explode(array(pcts.map(lit): _*)).as("pct"))
      .withColumn("tr", expr("(pct * nr + 99) DIV 100"))
      .withColumn("tc", expr("(pct * nc + 99) DIV 100"))
      .groupBy(col("event_type"), col("pct"))
      .agg(min(when(col("cr") >= col("tr"), col("vq"))).as("ref_q"),
        min(when(col("cc") >= col("tc"), col("vq"))).as("cur_q"))
      .withColumn("delta_centi", col("cur_q") - col("ref_q"))
      .orderBy(col("event_type"), col("pct"))
  }

  private val q138Sql =
    s"""$quantCdfSql, x AS (
       |  SELECT cum.*, p.pct,
       |         (p.pct * nr + 99) // 100 AS tr,
       |         (p.pct * nc + 99) // 100 AS tc
       |  FROM cum CROSS JOIN (SELECT unnest([50, 95, 99]) AS pct) p
       |  WHERE nr > 0 AND nc > 0
       |)
       |SELECT event_type, pct,
       |       CAST(min(CASE WHEN cr >= tr THEN vq END) AS BIGINT) AS ref_q,
       |       CAST(min(CASE WHEN cc >= tc THEN vq END) AS BIGINT) AS cur_q,
       |       CAST(min(CASE WHEN cc >= tc THEN vq END)
       |            - min(CASE WHEN cr >= tr THEN vq END) AS BIGINT) AS delta_centi
       |FROM x GROUP BY 1, 2 ORDER BY event_type, pct""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q30_tumbling_window", Some(q30Sql), q30),
    QuerySpec("q31_sliding_window", Some(q31Sql), q31),
    QuerySpec("q32_session_window", Some(q32Sql), q32, aqe = false),
    QuerySpec("q33_range_join", Some(q33Sql), q33),
    QuerySpec("q34_stateful_dedup", Some(q34Sql), q34),
    QuerySpec("q61_funnel_depth", Some(q61Sql), q61),
    QuerySpec("q62_cohort_retention", Some(q62Sql), q62),
    QuerySpec("q67_transition_matrix", Some(q67Sql), q67),
    QuerySpec("q73_top_paths", Some(q73Sql), q73),
    QuerySpec("q74_hll_sketch_rollup", Some(q74Sql), q74),
    QuerySpec("q85_histogram_drift", Some(q85Sql), q85, aqe = false),
    QuerySpec("q86_scd2_intervals", Some(q86Sql), q86),
    QuerySpec("q88_psi_drift", Some(q88Sql), q88, aqe = false),
    QuerySpec("q89_jsd_drift", Some(q89Sql), q89),
    QuerySpec("q107_pruned_window", Some(q107Sql), q107),
    QuerySpec("q133_ks_drift", Some(q133Sql), q133),
    QuerySpec("q138_quantile_drift", Some(q138Sql), q138),
    QuerySpec("q160_watermark_lateness", Some(q160Sql), q160),
  )
}
