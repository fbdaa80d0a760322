package graft.spark

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts, for the specs that pin job budgets. */
object JobFence {

  /** Jobs `body` starts. Sentinel jobs before and after fence them off: the
    * listener bus delivers in order, so every job between the two
    * sentinels' starts is the body's.
    */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    def sentinel(name: String): Unit = {
      sc.setJobGroup(name, "JobFence")
      try spark.range(1).collect() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel("fence-start")
      val a = body
      sentinel("fence-end")
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("fence-end") && System.nanoTime() < deadline) Thread.sleep(20)
      val groups = seen.asScala.toSeq
      assert(groups.contains("fence-end"), s"fence job never reported: $groups")
      (a, groups.dropWhile(_ != "fence-start").drop(1).takeWhile(_ != "fence-end").size)
    } finally sc.removeSparkListener(listener)
  }
}
