package perfbench

import java.nio.file.Files

import scala.util.control.NonFatal

import graft.QuerySpec
import graft.battle.Normalize
import graft.sources.{FixtureRestClient, RestBattleSource}

/** Checks of the benchmark's own JVM side; run by perfbench/test_perfbench.py.
  * Prints one line per check and exits non-zero if any fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case NonFatal(e) => failures += 1; println(s"FAIL $name: ${Main.errorOf(e)}")
      case e: AssertionError => failures += 1; println(s"FAIL $name: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    check("same seed gives identical ladder fixtures") {
      val a = Ladder.generate(7, 40, 24)
      assert(a == Ladder.generate(7, 40, 24))
      assert(a.fixtures(40) == Ladder.generate(7, 40, 24).fixtures(40))
    }
    check("different seed gives different ladder fixtures") {
      assert(Ladder.generate(7, 40, 24).fixtures(40) != Ladder.generate(8, 40, 24).fixtures(40))
    }
    check("about one battle in ten is dropped by Normalize's rules") {
      val all = Ladder.generate(7, 150, 24).logs.values.flatten.toSeq
      val dropped = all.count(!_.valid).toDouble / all.size
      assert(dropped > 0.06 && dropped < 0.14, s"dropped share $dropped")
    }
    check("driver-only time excludes every task interval") {
      assert(Tracer.driverOnly(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60.0)
      assert(Tracer.driverOnly(0, 100, Nil) == 100.0)
    }

    val out = Files.createTempDirectory("perfbench-selftest").toString
    val spark = Main.newSession(Main.Args("selftest", 1, 1, trace = false, "", out, 2))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      check("Normalize keeps exactly the battles the generator counts as valid") {
        val ladder = Ladder.generate(11, 12, 24)
        val client = new FixtureRestClient(ladder.fixtures(12))
        val raw = RestBattleSource.fetchBattles(spark, client, ladder.tags)
        val got = Normalize(raw.drop("player_tag")).count()
        assert(got == ladder.tags.map(ladder.validGames).sum, s"normalized $got")
      }
      check("a failing query is counted with its error class and never timed") {
        val ok = QuerySpec("ok_query", None, (s, _) => s.range(10).toDF())
        val bad = QuerySpec("failing_query", None, (_, _) => throw new IllegalStateException("injected"))
        val execs = Main.runPass(spark, Seq(ok, bad), "", 0, None)
        val failed = execs.find(_.name == "failing_query").get
        assert(failed.seconds.isNaN, s"failed query was timed: ${failed.seconds}")
        assert(failed.error.startsWith("java.lang.IllegalStateException"), failed.error)
        val passed = execs.find(_.name == "ok_query").get
        assert(passed.error == null && passed.seconds > 0)
      }
    } finally Main.stop(spark)
    if (failures > 0) sys.exit(1)
  }
}
