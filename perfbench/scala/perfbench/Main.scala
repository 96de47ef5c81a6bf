package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Random, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{QueryCatalog, QuerySpec, SparkEntry, Tables}
import graft.battle.{BattleFixtures, CoachSession, MetaWorkflow}
import graft.operators.Artifacts
import graft.sources.{FixtureRestClient, RestBattleSource, RestClient}

/** One timed operation. `seconds` is NaN when the operation threw; a
  * failed operation is never a timing. Pass 0 is the cold part of the
  * run, passes from 1 are warm. */
final case class Exec(name: String, pass: Int, seconds: Double, error: String) {
  def json: String = Json.obj(Seq("name" -> Json.str(name), "pass" -> pass.toString,
    "seconds" -> Json.num(seconds), "error" -> Json.str(error)))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The benchmark's JVM side. Runs one workload and writes the raw
  * timings, failures and (traced run) per-layer counters to
  * `<out>/raw.json`; `perfbench/run.py` checks outputs and turns the raw
  * record into metrics.
  *
  *   perfbench.Main --workload corpus|coach --seed N --seconds S
  *                  --trace 0|1 --data DIR --out DIR --cores N
  */
object Main {

  /** Corpus workload: the smallest set of catalog queries whose cold pass
    * calls all 20 `graft_*` kernels (q47, over `part`, is the only caller
    * of graft_lev) and builds the shingle, LSH, simhash, IVF, SQ8,
    * language-model, unigram and co-occurrence artifacts (19 of them). */
  val Corpus: Seq[String] = Seq(
    "q151_unigram_viterbi", "q106_lsh_precision", "q58_quantized_ann", "q27_simhash",
    "q156_abtt_whitening", "q169_loglen_fit", "q119_random_projection",
    "q68_cooccurrence_lift", "q117_span_scrub", "q134_ngram_diversity",
    "q39_cosine_neardup", "q72_semantic_dedup", "q99_ppl_filter", "q157_label_noise",
    "q47_fuzzy_levenshtein")

  // coach: ladder size and Phase 0 thresholds, chosen so every seed
  // converges on the second cohort (about 540 valid battles per cohort)
  val Players = 150
  val BattlesPerPlayer = 24
  val CohortK = 25
  val MinTotal = 700L
  val MinPerType = 60L
  val MaxLoops = 8

  /** One question per QnaRouter category, with the category it must route to. */
  val Questions: Seq[(String, String)] = Seq(
    "What is my overall win rate?" -> "user",
    "How do I play against Bait?" -> "matchup",
    "Which cards carry my games?" -> "card",
    "What archetype is popular on the ladder?" -> "meta",
    "Any tips for today?" -> "other")

  // fewest warm units per run: two corpus passes (30 query samples), two
  // coach sessions after two warm-up ones (coach sessions keep getting
  // faster over the first three or four sessions of a JVM)
  val MinPasses = 2
  val WarmupSessions = 2
  val MinSessions = 2
  val Setups = 3
  val DumpThreads = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("data", ""), need("out"), m.getOrElse("cores", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Record
    rec.calibStart = calibrate()
    a.workload match {
      case "corpus" => corpus(a, rec)
      case "coach" => coach(a, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec.calibEnd = calibrate()
    rec.peakRssMb = peakRssMb()
    Files.write(Paths.get(a.out, "raw.json"), rec.json(a).getBytes("UTF-8"))
  }

  /** Everything the runner needs from one run. */
  final class Record {
    val setups = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Exec]
    val calls = mutable.ArrayBuffer.empty[(String, String, Double)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var layers: Map[String, Double] = Map.empty
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var calibStart = 0.0
    var calibEnd = 0.0
    var peakRssMb = 0.0
    var firstReadyS = 0.0

    def json(a: Args): String = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cores" -> a.cores.toString,
      "trace" -> a.trace.toString,
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "first_ready_s" -> Json.num(firstReadyS),
      "calib_ms" -> Json.arr(Seq(Json.num(calibStart), Json.num(calibEnd))),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "phase_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "ops" -> Json.arr(ops.map(_.json)),
      "calls" -> Json.arr(calls.map { case (op, n, s) =>
        Json.obj(Seq("op" -> Json.str(op), "name" -> Json.str(n), "seconds" -> Json.num(s)))
      }),
      "checks" -> Json.arr(checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }),
      "layers" -> Json.nums(layers)))
  }

  /** Wall seconds of one phase of the run, for the environment record. */
  def phase[T](rec: Record, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally rec.phases(name) = (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ set-up

  def newSession(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.min(a.cores, 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set up [[Setups]] times and keep the last session. Each set-up is
    * timed from session start to inputs registered (`register`). The
    * first one, which also loads and compiles the engine's classes, is
    * recorded only as its time from JVM start; `setup_s` is the median
    * of the others. */
  def setUp(a: Args, rec: Record)(register: SparkSession => Unit): SparkSession = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = newSession(a)
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(100000L).selectExpr("sum(id)").collect()
      register(spark)
      if (i == 1) rec.firstReadyS = (System.currentTimeMillis() - jvmStart) / 1e3
      else rec.setups += (System.nanoTime() - t0) / 1e9
    }
    spark
  }

  /** The inputs every catalog query reads, loaded the way the engine
    * loads them (footer schema read and memoized), and exposed as views
    * for the kernel queries. */
  def registerTables(dir: String)(spark: SparkSession): Unit =
    Tables.all.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
      df.createOrReplaceTempView(t)
    }

  // ------------------------------------------------------- query passes

  /** Run every spec once, in order, with the bench protocol: SQL cache
    * cleared, the spec's AQE flag and confs applied, noop sink. A spec
    * that throws is recorded with its error class and no time. */
  def runPass(spark: SparkSession, specs: Seq[QuerySpec], dir: String, pass: Int,
      tracer: Option[Tracer]): Seq[Exec] =
    specs.map { sp =>
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.adaptive.enabled", sp.aqe.toString)
      val t0 = System.nanoTime()
      try {
        traced(tracer, "query", sp.name, call = true) {
          sp.withConfs(spark) {
            val df = traced(tracer, "operators.build", sp.name)(sp.fn(spark, dir))
            df.write.mode("overwrite").format("noop").save()
          }
        }
        Exec(sp.name, pass, (System.nanoTime() - t0) / 1e9, null)
      } catch {
        case NonFatal(e) => Exec(sp.name, pass, Double.NaN, errorOf(e))
      }
    }

  def errorOf(e: Throwable): String =
    e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300)

  def traced[T](tracer: Option[Tracer], name: String, key: String, call: Boolean = false)(body: => T): T =
    tracer match {
      case Some(t) if call => t.call(name, key)(body)
      case Some(t) => t.span(name, key)(body)
      case None => body
    }

  def unit[T](tracer: Option[Tracer], traced: Boolean)(body: => T): (T, Map[String, Double]) =
    tracer match {
      case Some(t) => t.unit(traced)(body)
      case None => (body, Map.empty)
    }

  /** Warm units while the next one is expected to end within `seconds`
    * (at least `minUnits`), so a run's length does not depend on
    * where a unit boundary falls. In the traced run units go untraced,
    * traced, traced, untraced (at least these four), so the run measures
    * its own tracing overhead with the units' warming trend cancelled.
    * Returns the traced units' layer maps and the traced and untraced
    * unit walls. */
  def warmLoop(a: Args, tracer: Option[Tracer], minUnits: Int)(body: Int => Unit): (Seq[Map[String, Double]], Seq[Double], Seq[Double]) = {
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val plainWall = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var k = 1
    var last = 0.0
    val least = if (tracer.isDefined) math.max(4, minUnits) else minUnits
    while (k <= least || (System.nanoTime() - t0) / 1e9 + last <= a.seconds) {
      val traceThis = tracedUnit(tracer, k)
      val w0 = System.nanoTime()
      val (_, l) = unit(tracer, traceThis)(body(k))
      val wall = (System.nanoTime() - w0) / 1e6
      last = wall / 1e3
      if (traceThis) { layers += l; tracedWall += wall } else plainWall += wall
      k += 1
    }
    (layers.toSeq, tracedWall.toSeq, plainWall.toSeq)
  }

  def tracedUnit(tracer: Option[Tracer], k: Int): Boolean = tracer.isDefined && (k % 4 == 2 || k % 4 == 3)

  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keySet).distinct.map(k => k -> Stats.median(ms.map(_.getOrElse(k, 0.0)))).toMap

  def corpus(a: Args, rec: Record): Unit = {
    val specs = new Random(a.seed).shuffle(Corpus.map(QueryCatalog.byName))
    val spark = phase(rec, "setup")(setUp(a, rec)(registerTables(a.data)))
    val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
    val arts0 = Artifacts.buildSeconds
    val (_, coldLayers) = phase(rec, "cold")(unit(tracer, a.trace) {
      rec.ops ++= runPass(spark, specs, a.data, 0, tracer)
    })
    val arts1 = Artifacts.buildSeconds
    val (warm, tw, pw) = phase(rec, "warm")(warmLoop(a, tracer, MinPasses) { k =>
      rec.ops ++= runPass(spark, specs, a.data, k, tracer)
    })
    val oracle = SparkEntry.oracleSql
    phase(rec, "dump")(dumpResults(spark, specs, a, rec))
    Files.write(Paths.get(a.out, "oracle.json"), Json.obj(specs.map(sp =>
      sp.name -> Json.str(oracle(sp.name)))).getBytes("UTF-8"))
    tracer.foreach { t =>
      val built = arts1.keySet.filter(k => !k.contains(':') && arts1(k) != arts0.getOrElse(k, -1.0))
      Kernels.register(spark)
      rec.layers = layerRecord(medians(warm), coldLayers, tw, pw, t) ++
        phase(rec, "kernels")(Kernels.time(spark)) ++ Map(
        "operators.artifacts_built" -> built.size.toDouble,
        "operators.artifact_build_s" -> built.toSeq.map(k => arts1(k) - arts0.getOrElse(k, 0.0)).sum)
      writeSpans(a, t)
    }
    stop(spark)
  }

  /** Write every query's result for the oracle check, outside every
    * timing. The queries run [[DumpThreads]] at a time: each is mostly
    * single-threaded driver work at this scale. The specs' execution
    * confs (memory-safety knobs that never change a result) are applied
    * once around the whole dump instead of per query, since concurrent
    * per-query set/restore would race. */
  def dumpResults(spark: SparkSession, specs: Seq[QuerySpec], a: Args, rec: Record): Unit = {
    val confs = specs.flatMap(_.confs).toMap
    require(specs.flatMap(_.confs).distinct.size == confs.size, "specs disagree on a conf value")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(DumpThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try QuerySpec("dump", None, (_, _) => null, confs = confs).withConfs(spark) {
      val failures = specs.map { sp =>
        Future {
          try { sp.fn(spark, a.data).write.mode("overwrite").parquet(s"${a.out}/results/${sp.name}"); None }
          catch { case NonFatal(e) => Some((sp.name, false, "result dump failed: " + errorOf(e))) }
        }
      }
      rec.checks ++= Await.result(Future.sequence(failures), Duration.Inf).flatten
    } finally pool.shutdown()
  }

  /** Per-layer metrics every workload reports; coach-only and
    * query-only ones read 0 where the layer is not on the path. */
  def layerRecord(warm: Map[String, Double], cold: Map[String, Double], tracedWall: Seq[Double],
      plainWall: Seq[Double], t: Tracer): Map[String, Double] = {
    def w(k: String) = warm.getOrElse(k, 0.0)
    val answers = w("span.battle.answer.n")
    Map(
      "plans.analysis_ms" -> w("plans.analysis_ms"),
      "plans.optimization_ms" -> w("plans.optimization_ms"),
      "plans.planning_ms" -> w("plans.planning_ms"),
      "operators.build_ms" -> (w("span.operators.build.ms") + w("span.battle.analyze.ms")),
      "exec.jobs" -> w("exec.jobs"),
      "exec.stages" -> w("exec.stages"),
      "exec.tasks" -> w("exec.tasks"),
      "exec.driver_only_ms" -> w("exec.driver_only_ms"),
      "exec.codegen_compiles" -> w("exec.codegen_compiles"),
      "exec.codegen_ms" -> w("exec.codegen_ms"),
      "exec.cold_codegen_compiles" -> cold.getOrElse("exec.codegen_compiles", 0.0),
      "exec.cold_codegen_ms" -> cold.getOrElse("exec.codegen_ms", 0.0),
      "exec.task_run_ms" -> w("exec.task_run_ms"),
      "exec.task_cpu_ms" -> w("exec.task_cpu_ms"),
      "exec.gc_ms" -> w("exec.gc_ms"),
      "exec.slot_busy_frac" -> w("exec.slot_busy_frac"),
      "exec.shuffle_read_mb" -> w("exec.shuffle_read_mb"),
      "exec.shuffle_write_mb" -> w("exec.shuffle_write_mb"),
      "exec.spill_mb" -> w("exec.spill_mb"),
      "exec.peak_task_mem_mb" -> w("exec.peak_task_mem_mb"),
      "sources.fetch_calls" -> w("sources.fetch_calls"),
      "sources.fetch_ms" -> w("sources.fetch_ms"),
      "battle.user_tables_ms" -> w("span.battle.user_tables.ms"),
      "battle.answer_ms" -> (if (answers > 0) w("span.battle.answer.ms") / answers else 0.0),
      "battle.jobs_per_session" -> (if (answers > 0) w("exec.jobs") else 0.0),
      "battle.meta_loops" -> 0.0,
      "trace.overhead_ms" -> (Stats.median(tracedWall) - Stats.median(plainWall)),
      "trace.spans" -> t.spanCount.toDouble)
  }

  def writeSpans(a: Args, t: Tracer): Unit = {
    val p = Paths.get(a.out, "spans.jsonl")
    Files.write(p, t.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  // -------------------------------------------------------------- coach

  def coach(a: Args, rec: Record): Unit = {
    val ladder = Ladder.generate(a.seed, Players, BattlesPerPlayer)
    val fixtures = ladder.fixtures(Players)
    var base: RestClient = null
    var cardMeta: org.apache.spark.sql.DataFrame = null
    val spark = phase(rec, "setup")(setUp(a, rec) { s =>
      base = new FixtureRestClient(fixtures)
      cardMeta = BattleFixtures.cardMetaDf(s)
      cardMeta.collect()
    })
    val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
    def client(timed: Boolean): RestClient = if (timed) new TimedClient(base) else base

    // Phase 0: leaderboard → cohorts → battle logs → converged meta tables
    val t0 = System.nanoTime()
    val (meta, coldLayers) = unit(tracer, a.trace) {
      Try(traced(tracer, "battle.meta", "phase0", call = true) {
        val m = MetaWorkflow.runFromSource(spark, client(a.trace), cardMeta, topLimit = Players,
          cohortK = CohortK, minTotal = MinTotal, minPerType = MinPerType, maxLoops = MaxLoops)
        m.deckSummary.collect(); m.matchupSummary.collect(); m.deckTypeCounts.collect()
        m
      })
    }
    val metaS = (System.nanoTime() - t0) / 1e9
    rec.phases("phase0") = metaS
    val m = meta match {
      case Success(m) => m
      case Failure(e) =>
        rec.ops += Exec("phase0", 0, Double.NaN, errorOf(e))
        stop(spark)
        return
    }
    val want = ladder.expectedMeta(CohortK, MinTotal, MinPerType, MaxLoops)
    val got = (m.converged, m.loops, m.totalBattles)
    rec.checks += (("phase0", got == want, s"converged/loops/totalBattles: got $got, expected $want"))
    rec.ops += Exec("phase0", 0, metaS, null)
    rec.layers = Map("battle.meta_loops" -> m.loops.toDouble)
    val session = new CoachSession(spark, cardMeta, () => Iterator(m.battles), MinTotal, MinPerType)
    val order = new Random(a.seed).shuffle(ladder.tags)

    def playerSession(k: Int, traceFetch: Boolean): Unit = {
      val tag = order(Math.floorMod(k, order.size))
      val op = s"session:$tag"
      val pass = math.max(k, 0) // warm-up sessions belong to the cold part
      val callsHere = mutable.ArrayBuffer.empty[(String, String, Double)]
      val s0 = System.nanoTime()
      try {
        val (user, games) = traced(tracer, "battle.user_tables", op, call = true) {
          val raw = RestBattleSource.fetchBattles(spark, client(traceFetch), Seq(tag))
          val u = traced(tracer, "battle.analyze", op)(session.analyzeUser(raw))
          (u, u.summary.collect()(0).getAs[Long]("games"))
        }
        // each answer is one of the session's "queries"
        val answers = Questions.map { case (q, cat) =>
          val c0 = System.nanoTime()
          val ans = traced(tracer, "battle.answer", op, call = true)(session.answer(q, user))
          callsHere += ((op, s"answer:$cat", (System.nanoTime() - c0) / 1e9))
          cat -> ans
        }
        val s = (System.nanoTime() - s0) / 1e9
        user.normalized.unpersist()
        val bad = answers.collect { case (want, got) if got.category != want =>
          s"'$want' question routed to '${got.category}'" } ++
          (if (games != ladder.validGames(tag)) Seq(s"games $games, expected ${ladder.validGames(tag)}")
           else Nil)
        if (bad.nonEmpty) rec.checks += ((op, false, bad.mkString("; ")))
        rec.ops += Exec(op, pass, s, null)
        if (k > 0) rec.calls ++= callsHere
      } catch {
        case NonFatal(e) => rec.ops += Exec(op, pass, Double.NaN, errorOf(e))
      }
    }

    // warm-up sessions, timed into cold_s with Phase 0: the first also
    // builds the CoachSession's own meta tables
    phase(rec, "warmup")((1 - WarmupSessions to 0).foreach(playerSession(_, traceFetch = false)))
    val (warm, tw, pw) = phase(rec, "warm")(warmLoop(a, tracer, MinSessions) { k =>
      playerSession(k, tracedUnit(tracer, k))
    })
    tracer.foreach { t =>
      registerTables(a.data)(spark)
      Kernels.register(spark)
      rec.layers = layerRecord(medians(warm), coldLayers, tw, pw, t) ++ rec.layers ++
        phase(rec, "kernels")(Kernels.time(spark)) ++
        Map("operators.artifacts_built" -> 0.0, "operators.artifact_build_s" -> 0.0)
      writeSpans(a, t)
    }
    stop(spark)
  }

  // ------------------------------------------------------- environment

  /** Best-of-3 wall ms of a fixed pure-JVM loop: a host-speed probe
    * taken at the start and end of every run. */
  def calibrate(): Double = {
    var sink = 0L
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 40000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      sink += acc
      (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42) println("")
    times.min
  }

  /** Process RSS high-water mark (VmHWM) in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}
