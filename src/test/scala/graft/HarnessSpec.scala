package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions.{col, lit, raise_error}

/** [[Harness.timed]] runs a spec under its own AQE flag and confs, and
  * the probe reports the timed write's own phases and final plan. */
class HarnessSpec extends SparkSpec {

  private val key = "graft.test.harness.marker"

  test("timed applies the spec's AQE flag and confs for the run and restores them after") {
    var seen: (String, Option[String]) = null
    val sp = QuerySpec("confs", None, (s, _) => {
      seen = (s.conf.get(Harness.AqeKey), s.conf.getOption(key))
      s.range(10).toDF()
    }, aqe = false, confs = Map(key -> "on"))
    val aqeBefore = spark.conf.get(Harness.AqeKey)
    assert(aqeBefore === "true")

    assert(Harness.timed(spark, sp, "unused", 1, aqe = None).seconds > 0)
    assert(seen === ("false" -> Some("on")))
    assert(spark.conf.get(Harness.AqeKey) === aqeBefore)
    assert(spark.conf.getOption(key) === None)

    Harness.timed(spark, sp, "unused", 2, aqe = Some("true"))
    assert(seen === ("true" -> Some("on")), "the env override beats the spec's flag")
    assert(spark.conf.get(Harness.AqeKey) === aqeBefore)
  }

  test("a probe rep splits a shuffle query's wall time and prints its final plan") {
    val sp = QuerySpec("shuffle", None, (s, _) =>
      s.range(100000).groupBy((col("id") % 7).as("k")).count().orderBy(col("k")))
    val p = Harness.probe(spark, sp, "unused", 1, aqe = None)
    assert(Seq(p.analysisMs, p.optimizationMs, p.planningMs, p.execMs).forall(_ >= 0), p.line)
    assert(p.analysisMs + p.optimizationMs + p.planningMs <= p.totalMs, p.line)
    assert(p.plan.contains("isFinalPlan=true"), p.plan)

    val off = Harness.probe(spark, sp.copy(aqe = false), "unused", 1, aqe = None)
    assert(!off.plan.contains("AdaptiveSparkPlan"), off.plan)
  }

  test("a failing spec is reported with its error class and the next spec still runs") {
    val boom = QuerySpec("boom", None, (s, _) =>
      s.range(10).select(raise_error(lit("injected")).as("x")))
    val ok = QuerySpec("ok", None, (s, _) => s.range(10).toDF())
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val res = Harness.probeAll(spark, "unused", 2, None, Seq(boom, ok),
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"))

    assert(res.map(_._1) === Seq("boom", "ok"))
    val e = res.head._2.left.getOrElse(fail("boom was not reported as failed"))
    assert(err.toString("UTF-8").contains(s"[harness] boom failed: ${e.getClass.getName}: "))
    assert(res(1)._2.map(_.size) === Right(2))
    val printed = out.toString("UTF-8")
    assert(printed.contains("[harness] ok rep1 analysis="), printed)
    assert(printed.contains("[harness] ok rep2 analysis="), printed)
    assert(printed.contains("[harness] ok final plan:"), printed)
    assert(!printed.contains("[harness] boom"), printed)
  }

  test("only Harness reads the environment") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: no $root")
    val reads = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Harness.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("sys.env") || line.contains("System.getenv") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(reads.isEmpty, s"env reads outside Harness.env:\n${reads.mkString("\n")}")
  }

  test("env applies its defaults and fails loudly on a retired name") {
    val e = Harness.fromEnv(Map("SPARK_GRAFT_CPUS" -> "2"))
    assert((e.parts, e.reps, e.benchOut, e.plotsDir) === ((2, 3, "BENCH_LAST.json", "plots")))
    val conf = Harness.fromEnv(Map("SPARK_GRAFT_CONF" -> "spark.graft.artifacts=off;a=b=c"))
    assert(conf.confs === Seq("spark.graft.artifacts" -> "off", "a" -> "b=c"))
    Seq(
      "SPARK_GRAFT_NO_ARTIFACTS" -> "SPARK_GRAFT_CONF=\"spark.graft.artifacts=off",
      "SPARK_GRAFT_ARTIFACT_STORE" -> "disk artifact store is removed",
      "SPARK_GRAFT_WIDE_DIGEST" -> "wide gram digest is removed").foreach { case (name, hint) =>
      val ex = intercept[IllegalArgumentException](Harness.fromEnv(Map(name -> "1")))
      assert(ex.getMessage.contains(name) && ex.getMessage.contains(hint), ex.getMessage)
    }
  }

  test("env fails loudly on a removed conf inside SPARK_GRAFT_CONF") {
    Seq("spark.graft.wideDigest" -> "1", "spark.graft.waistMinBytes" -> "1",
      "spark.graft.artifacts" -> "/tmp/artifact_store").foreach { case (k, v) =>
      val ex = intercept[IllegalArgumentException](Harness.fromEnv(
        Map("SPARK_GRAFT_CONF" -> s"spark.graft.artifacts=off;$k=$v")))
      assert(ex.getMessage.contains(k) && ex.getMessage.contains("removed"), ex.getMessage)
    }
  }
}
