package graft

import java.io.PrintStream
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.util.QueryExecutionListener

/** The one place that builds a session and runs a timed query. `Bench`,
  * `Verify`, `BattleDemo`, the tests' shared session and the probe below
  * all go through it, so every number is measured on the same session
  * shape and through the same per-rep body.
  *
  * Probe: `sbt "runMain graft.Harness <query>..."` runs each query
  * SPARK_GRAFT_BENCH_REPS times through [[timed]], prints each rep's
  * phase split (analysis, optimization, planning, exec, total ms) and,
  * after the last rep, that write's final executed plan. */
object Harness {

  val AqeKey = "spark.sql.adaptive.enabled"

  /** The engine's one session builder: `local[cpus]`,
    * `parts` shuffle partitions, UI off, UTC session time, the native
    * kernels (`GraftExtensions`) installed, log level WARN. */
  def session(cpus: Int, parts: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The env contract, read only by [[env]].
    *
    * @param parts shuffle partitions, sized to the data rather than the
    *              thread count: at sf0.1 the largest shuffle moves a few
    *              MB, so every extra partition is task-scheduling floor
    *              (A/B at local[32]: 8 beat 32, full suite 48.1 → 42.5 s).
    * @param aqe   A/B knob: overrides every spec's own AQE flag.
    * @param confs A/B knob: runtime-settable session confs.
    * @param reps  timed reps per query (min-of-N in `Bench`). */
  final case class Env(sfDir: String, cpus: Int, parts: Int, aqe: Option[String],
      confs: Seq[(String, String)], reps: Int) {

    /** A session of this shape with [[aqe]] and [[confs]] applied. */
    def session(app: String): SparkSession = {
      val spark = Harness.session(cpus, parts, app)
      aqe.foreach(spark.conf.set(AqeKey, _))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark
    }
  }

  /** SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_PARTS
    * (default min(cpus, 8)), SPARK_GRAFT_AQE, SPARK_GRAFT_CONF
    * ("k=v;k=v") and SPARK_GRAFT_BENCH_REPS (default 3). */
  def env: Env = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    Env(
      sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      cpus = cpus,
      parts = sys.env.get("SPARK_GRAFT_PARTS").map(_.toInt).getOrElse(math.min(cpus, 8)),
      aqe = sys.env.get("SPARK_GRAFT_AQE"),
      confs = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";"))
        .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v },
      reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
  }

  /** Warm up JVM/codegen/shuffle/parquet machinery once so the first
    * timed query doesn't absorb session startup: a range-sum, then one
    * row of every table. `events` goes through its typed loader (the
    * generic reader fails on TIMESTAMP(NANOS) generations). A table that
    * fails to load is named on stderr; the warmup goes on. */
  def warm(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000L).agg(sum("id")).collect()
    Tables.all.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
        df.limit(1).collect()
      } catch { case e: Throwable =>
        System.err.println(s"[harness] warmup: table $t failed to load: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  /** One timed rep of a spec: its wall seconds and the frame it wrote. */
  final case class Rep(seconds: Double, frame: DataFrame)

  /** One timed rep of `sp`, the body every bench number comes from. The
    * spec's AQE flag (or the `aqe` override) and its confs hold for the
    * run and are restored after it. The SQL cache is cleared first: the
    * CacheManager matches canonicalized plans, so a second run would
    * otherwise reuse the first run's cached intermediates. The job
    * description `graft-bench:<name>:rep<r>` lets event-log tooling pair
    * executions to queries by name.
    *
    * The timed action is a noop-format write, not count(): under count()
    * Catalyst's EliminateSorts legally drops a top-level ORDER BY, so
    * final sorts would be excluded from the timing. The noop sink runs
    * the full plan and discards rows executor-side. */
  def timed(spark: SparkSession, sp: QuerySpec, dir: String, rep: Int, aqe: Option[String]): Rep =
    QuerySpec.scoped(spark, Map(AqeKey -> aqe.getOrElse(sp.aqe.toString))) {
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"graft-bench:${sp.name}:rep$rep")
      val t0 = System.nanoTime()
      val frame =
        try sp.withConfs(spark) {
          val df = sp.fn(spark, dir)
          df.write.mode("overwrite").format("noop").save()
          df
        }
        finally spark.sparkContext.setJobDescription(null)
      Rep((System.nanoTime() - t0) / 1e9, frame)
    }

  /** One probe rep: phase milliseconds and the final executed plan of
    * the write that [[timed]] ran. */
  final case class Probe(analysisMs: Long, optimizationMs: Long, planningMs: Long,
      totalMs: Long, plan: String) {
    def execMs: Long = totalMs - analysisMs - optimizationMs - planningMs
    def line: String = s"analysis=${analysisMs}ms optimization=${optimizationMs}ms " +
      s"planning=${planningMs}ms exec=${execMs}ms total=${totalMs}ms"
  }

  /** [[timed]] with the write's own planning phases. `save()` plans its
    * command in a QueryExecution of its own, reported to listeners as
    * "overwrite"; a QueryExecutionListener captures it, so the phases and
    * the plan are those of the run that was timed, not of a second
    * planning pass. Analysis also counts the frame's own analysis, which
    * the command reuses. */
  def probe(spark: SparkSession, sp: QuerySpec, dir: String, rep: Int, aqe: Option[String]): Probe = {
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (run, write) =
      try {
        val run = timed(spark, sp, dir, rep, aqe)
        (run, Option(writes.poll(10, TimeUnit.SECONDS))
          .getOrElse(sys.error(s"${sp.name}: the timed write never reached the listener")))
      } finally spark.listenerManager.unregister(listener)
    def ms(t: QueryPlanningTracker, phase: String): Long = t.phases.get(phase).fold(0L)(_.durationMs)
    Probe(
      analysisMs = ms(run.frame.queryExecution.tracker, QueryPlanningTracker.ANALYSIS) +
        ms(write.tracker, QueryPlanningTracker.ANALYSIS),
      optimizationMs = ms(write.tracker, QueryPlanningTracker.OPTIMIZATION),
      planningMs = ms(write.tracker, QueryPlanningTracker.PLANNING),
      totalMs = math.round(run.seconds * 1000),
      plan = write.executedPlan.toString)
  }

  /** Probe each spec `reps` times, printing one phase line per rep and
    * the last rep's final plan to `out`. A failing spec is named with its
    * error class and stack trace on `err`, and the next spec still runs. */
  def probeAll(spark: SparkSession, dir: String, reps: Int, aqe: Option[String], specs: Seq[QuerySpec],
      out: PrintStream, err: PrintStream): Seq[(String, Either[Throwable, Seq[Probe]])] =
    specs.map { sp =>
      sp.name -> (try {
        val ps = (1 to reps).map { r =>
          val p = probe(spark, sp, dir, r, aqe)
          out.println(s"[harness] ${sp.name} rep$r ${p.line}")
          p
        }
        out.println(s"[harness] ${sp.name} final plan:\n${ps.last.plan}")
        Right(ps)
      } catch { case e: Throwable =>
        err.println(s"[harness] ${sp.name} failed: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace(err)
        Left(e)
      })
    }

  def main(args: Array[String]): Unit = {
    val env = Harness.env
    val spark = env.session("graft-harness")
    warm(spark, env.sfDir)
    probeAll(spark, env.sfDir, env.reps, env.aqe, args.toSeq.map(QueryCatalog.byName), System.out, System.err)
    spark.stop()
  }
}
