package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query over the driver testdata tables.
  *
  * @param name   stable key used by the driver (CORRECTNESS_r{N}.json / BENCH)
  * @param oracle equivalent ANSI SQL for the DuckDB oracle (t2). None means
  *               the op is not SQL-expressible — the driver falls back to a
  *               rows-only check.
  * @param fn     (spark, sfDir) => result DataFrame. Results MUST be
  *               deterministic: total ORDER BY with unique tiebreakers,
  *               rounded doubles, integer sums cast identically on both
  *               sides (DuckDB sum(int) is HUGEINT → always CAST AS BIGINT
  *               in the oracle SQL).
  * @param aqe    whether the bench runs this query with adaptive execution.
  *               Default true (AQE's runtime coalescing wins at scale and
  *               on most of the catalog). Set false ONLY for queries whose
  *               plans have nothing to adapt — no skew, no join AQE could
  *               re-strategize, bounded shuffles — where the measured
  *               per-stage re-optimization latency is pure floor at bench
  *               scale (both directions A/B'd twice at sf0.1, r9; flagged
  *               queries won by >80 ms in BOTH pairs). Correctness runs
  *               (Verify) ignore the flag: results are identical either
  *               way, this is a latency-only knob.
  * @param confs  session confs this query's EXECUTION needs (applied by
  *               the harnesses around the run, previous values restored
  *               after). For runtime-settable knobs that must not leak to
  *               the rest of a long-lived session — e.g. q157 raises the
  *               object-agg sort-fallback threshold past its groups-per-
  *               task, which would be a memory-safety regression for every
  *               OTHER object aggregate (collect_list buffers…) if left
  *               set. Execution is lazy, so the query fn itself cannot
  *               scope these. Correctness never depends on them.
  */
final case class QuerySpec(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame,
    aqe: Boolean = true,
    confs: Map[String, String] = Map.empty,
) {

  /** Run `body` with [[confs]] applied, restoring prior values after —
    * the scoping helper Verify/Bench/specs share. */
  def withConfs[T](spark: SparkSession)(body: => T): T = QuerySpec.scoped(spark, confs)(body)
}

object QuerySpec {

  /** Run `body` with `confs` set on the session, restoring each prior
    * value (or unsetting it) after. */
  def scoped[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Parquet table loaders for the driver-generated testdata
  * (/root/repo/TESTDATA.md). One parquet file per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
  )

  /** Footer-schema memo: every `spark.read.parquet(path)` CALL pays
    * schema inference (~160 ms against the bench floor — a footer read
    * + merge per DataFrame creation, 3 creations per benched query).
    * The schema is a property of the file CONTENTS, so the memo key is
    * the path plus its [[fileState]]: one cheap listing (~1 ms) instead
    * of a footer read. Production engines do the same thing through a
    * catalog. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Content-tracking state of one table path, None when it is absent:
    * (mtime, len) for a plain file; for a DIRECTORY table (Spark-written
    * fixtures) the (name, mtime, len) of every child — a directory's own
    * mtime/len does not change when a part file is rewritten in place,
    * so keying on the children is what makes rewrite-invalidates-entry
    * actually hold. File-status calls only; no Spark job. */
  private def fileState(spark: SparkSession, path: String): Option[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = try Some(fs.getFileStatus(hPath))
      catch { case _: java.io.FileNotFoundException => None }
    status.map { st =>
      if (!st.isDirectory) s"${st.getModificationTime}:${st.getLen}"
      else fs.listStatus(hPath).toSeq.sortBy(_.getPath.getName)
        .map(c => s"${c.getPath.getName}@${c.getModificationTime}:${c.getLen}")
        .mkString(",")
    }
  }

  /** The [[fileState]] of every table in [[all]] present under `dir`:
    * changes whenever any input table is rewritten, so derived state
    * keyed on it (the standing artifacts) can never outlive its data. */
  private[graft] def fingerprint(spark: SparkSession, dir: String): String =
    all.flatMap(t => fileState(spark, s"$dir/$t.parquet").map(st => s"$t=$st")).mkString(";")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val state = fileState(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(s"table $name: no file at $path"))
    val schema = schemaCache.computeIfAbsent(s"$path@$state", _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")

  /** events.parquet's physical `ts` type has drifted across driver
    * testdata generations — TIMESTAMP(NANOS) (which Spark's vectorized
    * reader only surfaces as a long via nanosAsLong) and TIMESTAMP(MICROS)
    * without UTC adjustment (inferred as TIMESTAMP_NTZ). Dispatch on the
    * loaded footer schema so every generation loads, and always hand
    * downstream code µs-precision TimestampType (session tz is UTC
    * everywhere, so NTZ≡LTZ value-for-value).
    *
    * The MICROS path re-reads with an explicit `ts: TimestampType` schema
    * instead of `cast(ts)`: the column stays SCAN-NATIVE, so `ts` range
    * predicates push into the parquet scan (PushedFilters) — something
    * the NANOS path's derived `DIV` column structurally never allowed,
    * and a cast-wrapped column wouldn't either. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long: exact integer ns→µs (a double roundtrip would
        // lose precision above 2^53 ns ≈ 1970+104 days); DuckDB
        // truncates ns→µs the same way.
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        val fixed = StructType(df.schema.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        spark.read.schema(fixed).parquet(s"$dir/events.parquet")
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other — expected TIMESTAMP(NANOS) " +
        "(long via nanosAsLong), TIMESTAMP(MICROS) (ntz), or TIMESTAMP; " +
        "the driver testdata generator's timestamp encoding drifted again")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Spread rows across all cores before per-row-EXPENSIVE map work
    * (hashing, shingling, DP kernels). The testdata tables are single-
    * row-group parquet files — one scan task — so heavy map stages
    * serialize onto one core unless a shuffle intervenes; and a plain
    * `repartition(col…)` does NOT fix it, because AQE legally coalesces
    * small REPARTITION_BY_COL shuffles back to one partition. An
    * EXPLICIT partition count is exempt from AQE coalescing.
    * `defaultParallelism` = total cores locally and cluster-wide.
    * At 100 TB scans arrive naturally partitioned and this extra
    * shuffle of raw rows is noise next to the map work it spreads. */
  def spread(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (cols.isEmpty) df.repartition(n) else df.repartition(n, cols: _*)
  }
}
