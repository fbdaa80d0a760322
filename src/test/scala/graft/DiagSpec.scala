package graft

import graft.spark.SparkTestSession
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class DiagSpec extends AnyFunSuite {

  test("Diag: an unknown subcommand or query name fails before any query runs") {
    val spark = SparkTestSession.spark
    val jobGroups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = java.nio.file.Files.createTempDirectory("graftdiag").resolve("plans.md")
      intercept[IllegalArgumentException](Diag.main(Array("bogus")))
      intercept[IllegalArgumentException](Diag.main(Array.empty[String]))
      intercept[IllegalArgumentException](Diag.main(Array("scaling", "2")))
      val p = intercept[IllegalArgumentException](
        Diag.main(Array("profile", "kg_types,no_such_query", "2")))
      assert(p.getMessage.contains("unknown queries: no_such_query"), p.getMessage)
      val q = intercept[IllegalArgumentException](
        Diag.main(Array("plans", out.toString, "kg_types,also_unknown")))
      assert(q.getMessage.contains("unknown queries: also_unknown"), q.getMessage)
      assert(!java.nio.file.Files.exists(out))
      // the listener bus delivers in order: once this sentinel job's start
      // arrives, any job Diag had started would have been recorded before it
      spark.sparkContext.setJobGroup("diag-sentinel", "DiagSpec sentinel")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (jobGroups.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      val seen = jobGroups.asScala.toSeq
      assert(seen.nonEmpty && seen.forall(_ == "diag-sentinel"), s"jobs started: $seen")
      assert(!spark.sparkContext.isStopped)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
