package graft

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val env = Harness.env
    val spark = env.session("graft-bench")
    Harness.warm(spark, env.sfDir)
    // best-of-N per query (SPARK_GRAFT_BENCH_REPS, default 3): the VM
    // host shows heavy transient steal-time noise (observed 2x swings
    // between identical runs); min-of-N is the standard way to report
    // the machine's actual capability.
    // optional args = query-name filter (dev tool: time a subset)
    val wanted = args.toSet
    // SPARK_GRAFT_AQE (the A/B knob) overrides every per-spec flag;
    // otherwise each QuerySpec chooses (aqe=false only where two full
    // A/B pairs showed the adaptive re-optimization latency is pure
    // floor for that plan — see QuerySpec.aqe)
    val (results, failed) = timeAll(spark, env.sfDir, env.reps, env.aqe,
      QueryCatalog.all.sortBy(_.name).filter(sp => wanted.isEmpty || wanted.contains(sp.name)))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Per-artifact build seconds (additive field, round 15): the
    // standing-artifact layer builds inside the FIRST rep of the first
    // consumer, which min-of-N reporting discards — this keeps that
    // one-time cost visible next to the warm per-query numbers.
    // SPARK_GRAFT_CONF="spark.graft.artifacts=off" benches the inline
    // forms instead (then this map is empty and every consumer pays its
    // own build).
    val arts = graft.operators.Artifacts.buildSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // additive field: queries whose rep threw, with the error class —
    // kept out of `queries` and `total`, never reported as a timing
    val fails = failed.map { case (k, e) => s"""{"name":"$k","error":"$e"}""" }
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"artifacts":$arts,"sf":"${env.sfDir}","failed":$fails}"""
    // the full-surface line is ~7 KB and harness stdout captures have
    // truncated it (BENCH_r08.json "parsed": null) — ALSO write it to a
    // file the driver can read whole, and print it LAST (after
    // spark.stop()) so no shutdown logging trails the parseable line
    // relative default (resolves under the launch cwd) — a hardcoded
    // absolute path wrote outside the working tree on foreign checkouts
    val outFile = env.benchOut
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getClass.getName}: ${e.getMessage}")
    }
    spark.stop()
    println(line)
  }

  /** Min-of-`reps` wall seconds per spec, in order. A spec whose rep
    * throws is not timed: it is left out of the timings and returned in
    * the second list with the error's class name, and its later reps
    * are skipped. `aqe` overrides every spec's own AQE flag. */
  private[graft] def timeAll(
      spark: SparkSession,
      sfDir: String,
      reps: Int,
      aqe: Option[String],
      specs: Seq[QuerySpec]): (Seq[(String, Double)], Seq[(String, String)]) = {
    val timed = specs.map { sp =>
      // every Throwable: one query's StackOverflowError must not end
      // the whole bench
      sp.name -> (try Right((1 to reps).map(r => Harness.timed(spark, sp, sfDir, r, aqe).seconds).min)
        catch { case e: Throwable => Left(e.getClass.getName) })
    }
    (timed.collect { case (n, Right(t)) => n -> t },
      timed.collect { case (n, Left(e)) => n -> e })
  }
}
