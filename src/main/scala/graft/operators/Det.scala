package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input-scale gate for the eager checkpoint waists.
  *
  * `localCheckpoint()` is an EXTRA eager job per execution: at the
  * 100× replica the re-reference reuse it buys dwarfs that cost
  * (q59 4.7 → 1.6 s warm), but at bench sf0.1 the fixed job is a pure
  * ~0.2–0.3 s regression and its block write amplifies host jitter
  * (r13 verdict: q85 spanning 0.55–2.0 s across runs). The gate keys
  * on the dataset directory's on-disk bytes — one FS listing memoized
  * per [[graft.Tables.fingerprint]], no Spark job — so small inputs
  * keep their pre-waist single-pass plans while the 100× replica (and
  * anything larger) gets the barrier. Results are checkpoint-invariant,
  * so oracle hashes are identical on both sides of the gate by
  * construction.
  *
  * Threshold: sf0.1 is ~17 MB on disk, the 100× replica ~124 MB
  * (row-duplicated data compresses well); 48 MB splits the two with
  * ~3× margin each way.
  */
object Scale {
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  val DefaultMinBytes: Long = 48L * 1024 * 1024

  /** Total file bytes under `dir` (recursive listing, memoized on the
    * dir and its tables' file state, so an in-place rewrite re-lists). */
  def bytes(s: SparkSession, dir: String): Long =
    memo.computeIfAbsent(s"$dir|${graft.Tables.fingerprint(s, dir)}", { _ =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) total += it.next().getLen
      java.lang.Long.valueOf(total)
    })

  /** True when `dir` is big enough that an eager waist pays for itself. */
  def big(s: SparkSession, dir: String): Boolean =
    bytes(s, dir) >= DefaultMinBytes
}

/** Deterministic cross-engine numeric helpers.
  *
  * `round()` is NOT portable across engines: Spark rounds the shortest
  * decimal representation HALF_UP (1222.745 → 1222.75) while DuckDB
  * rounds the binary double (1222.74499999… → 1222.74). Both are
  * defensible; they differ on half-ulp boundaries. `floor(x*s + 0.5)/s`
  * runs the SAME IEEE-754 ops on the same bits in both engines, so the
  * result is bit-identical. Oracle SQL must use the same formula.
  */
object Det {

  /** Bit-portable round-to-scale: floor(x * 10^d + 0.5) / 10^d.
    * Oracle twin: `floor(x * 1eD + 0.5) / 1eD`. */
  def rnd(c: Column, digits: Int): Column = {
    val s = math.pow(10, digits)
    floor(c * s + lit(0.5)) / lit(s)
  }

  /** 2-decimal money rounding. Oracle: floor(x*100 + 0.5)/100. */
  def money(c: Column): Column = rnd(c, 2)

  /** 6-decimal rate rounding. Oracle: floor(x*1e6 + 0.5)/1e6. */
  def rate(c: Column): Column = rnd(c, 6)

  /** Total-order a finished frame WITHOUT double-executing its
    * derivation: a global ORDER BY's RangePartitioner SAMPLES its
    * child, so an exchange-free pre-sort chain (scan → heavy per-row
    * compute, or a join/agg whose distribution the child already
    * satisfies) runs twice — once for the sample pass, once for real
    * (SCALE.md round 13: two back-to-back 14 s jobs inside one q72).
    * The eager checkpoint materializes the output-sized rows so the
    * sample reads blocks. Use ONLY where the pre-sort chain is
    * expensive AND exchange-free — behind a shuffle the sample pass
    * reuses map outputs and this barrier would be pure overhead.
    *
    * Failure mode at cluster scale: `localCheckpoint` is a
    * NON-RELIABLE checkpoint — blocks live in executor storage, so an
    * executor loss fails the job outright instead of recomputing from
    * lineage, and the eager materialization holds the frame in block
    * storage for the query's duration. Acceptable here because the
    * helper is restricted to OUTPUT-SIZED frames (the rows the query
    * returns anyway); never feed it a corpus-scale intermediate. */
  def ordered(df: DataFrame, keys: Column*): DataFrame =
    df.localCheckpoint().orderBy(keys: _*)

  /** Scale-gated eager waist for a bounded frame that the plan
    * references more than once: above [[Scale]]'s byte threshold →
    * `localCheckpoint()` (one materialization, every reference reads
    * blocks — Spark re-executes DataFrame REFERENCES, there is no CTE
    * materialization); below → the frame unchanged, keeping the cheap
    * single-digit-stage plan small inputs had before the waists
    * landed. Same executor-loss caveat as [[ordered]]. */
  def waist(df: DataFrame, dir: String): DataFrame =
    if (Scale.big(df.sparkSession, dir)) df.localCheckpoint() else df
}

/** Share-of-total WITHOUT an unpartitioned window: the total is a
  * 1-row aggregate broadcast back into the frame. Numerically identical
  * to `sum().over(Window.partitionBy())` for integer value columns
  * (exact sum either way), but avoids the single-partition WindowExec
  * stage and its "No Partition Defined" warning on every run. */
object Share {
  def of(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val total = df.agg(sum(col(valueCol)).as("__total"))
    df.crossJoin(broadcast(total))
      .withColumn(outCol, Det.rate(col(valueCol).cast("double") / col("__total")))
      .drop("__total")
  }
}
