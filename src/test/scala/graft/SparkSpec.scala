package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark session startup dominates test time otherwise). Fixed at 4
  * cores and 4 partitions, whatever the env says: the plan-shape specs
  * expect 4 partitions. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4, 4, "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * told apart by job group; a marker job run after `body` flushes the
    * asynchronous listener queue, so every job of `body` has been seen
    * once the marker has. */
  protected def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val marker = s"$group-marker"
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "marker job never reached the listener")
      (result, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
