package graft.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.Assertions.assert
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts, for the specs that pin job budgets. */
object JobFence {

  /** Jobs `body` starts, keyed by site: the description of the SQL
    * execution each job runs for (its call site, `<action> at
    * <File>.scala:<line>`), else the call site of the job's final stage.
    * Keying by execution, not by the job's own call site, matters under
    * AQE: it submits stage jobs from another thread, whose call site says
    * `CompletableFuture`. Sentinel jobs before and after fence the body
    * off: the listener bus delivers in order, so every job between the two
    * sentinels' starts is the body's.
    */
  def jobsBySite[A](spark: SparkSession)(body: => A): (A, Jobs) = {
    val sc = spark.sparkContext
    val executions = new ConcurrentHashMap[String, String]
    val seen = new ConcurrentLinkedQueue[(String, String)] // (job group, site)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(key: String) = props.flatMap(p => Option(p.getProperty(key)))
        val site = prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id)))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("unknown")
        seen.add((prop("spark.jobGroup.id").getOrElse("null"), site))
      }
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
      def ended = seen.asScala.exists(_._1 == "fence-end")
      while (!ended && System.nanoTime() < deadline) Thread.sleep(20)
      val jobs = seen.asScala.toSeq
      assert(ended, s"fence job never reported: ${jobs.map(_._1)}")
      val fenced = jobs.dropWhile(_._1 != "fence-start").drop(1).takeWhile(_._1 != "fence-end")
      (a, Jobs(fenced.groupBy(_._2).map { case (site, js) => site -> js.size }))
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs of one fenced block: their count per site, and in total.
    * Its string is the total, then one `n × site` line per site, most jobs
    * first, so a budget assertion's failure message attributes the jobs.
    */
  final case class Jobs(bySite: Map[String, Int]) {
    def total: Int = bySite.values.sum
    override def toString: String = s"$total jobs" +
      bySite.toSeq.sortBy { case (site, n) => (-n, site) }
        .map { case (site, n) => s"\n  $n × $site" }.mkString
  }
}
