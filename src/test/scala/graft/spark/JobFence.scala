package graft.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.Assertions.assert
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts, and collects the plans of the SQL
  * executions it starts, for the specs that pin job budgets and plans.
  */
object JobFence {

  private sealed trait Seen
  private final case class JobSeen(group: String, site: String) extends Seen
  private final case class PlanSeen(plan: String) extends Seen

  /** Jobs `body` starts, keyed by site: the description of the SQL
    * execution each job runs for (its call site, `<action> at
    * <File>.scala:<line>`), else the call site of the job's final stage.
    * Keying by execution, not by the job's own call site, matters under
    * AQE: it submits stage jobs from another thread, whose call site says
    * `CompletableFuture`.
    */
  def jobsBySite[A](spark: SparkSession)(body: => A): (A, Jobs) = {
    val (a, seen) = fence(spark)(body)
    val sites = seen.collect { case JobSeen(_, site) => site }
    (a, Jobs(sites.groupBy(identity).map { case (site, js) => site -> js.size }))
  }

  /** The physical-plan description (the formatted explain, with each
    * scan's `PartitionFilters` and `PushedFilters`) of every SQL execution
    * `body` starts, in start order.
    */
  def plansOf[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val (a, seen) = fence(spark)(body)
    (a, seen.collect { case PlanSeen(plan) => plan })
  }

  /** What the listener bus reports while `body` runs. Sentinel jobs before
    * and after fence the body off: the bus delivers in order, so every
    * event between the two sentinels' job starts is the body's.
    */
  private def fence[A](spark: SparkSession)(body: => A): (A, Seq[Seen]) = {
    val sc = spark.sparkContext
    val executions = new ConcurrentHashMap[String, String]
    val seen = new ConcurrentLinkedQueue[Seen]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description)
          seen.add(PlanSeen(s.physicalPlanDescription))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(key: String) = props.flatMap(p => Option(p.getProperty(key)))
        val site = prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id)))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("unknown")
        seen.add(JobSeen(prop("spark.jobGroup.id").getOrElse("null"), site))
      }
    }
    def sentinel(name: String): Unit = {
      sc.setJobGroup(name, "JobFence")
      try spark.range(1).collect() finally sc.clearJobGroup()
    }
    def isSentinel(name: String): Seen => Boolean = {
      case JobSeen(group, _) => group == name
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      sentinel("fence-start")
      val a = body
      sentinel("fence-end")
      val deadline = System.nanoTime() + 30000000000L
      def ended = seen.asScala.exists(isSentinel("fence-end"))
      while (!ended && System.nanoTime() < deadline) Thread.sleep(20)
      val all = seen.asScala.toSeq
      assert(ended, s"fence job never reported: ${all.collect { case JobSeen(g, _) => g }}")
      (a, all.dropWhile(!isSentinel("fence-start")(_)).drop(1)
        .takeWhile(!isSentinel("fence-end")(_)))
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

/** Counts Catalyst analyses on the sessions it is registered with (the
  * test session, [[SparkTestSession]]): its check rule runs once per
  * analysis, i.e. once per Dataset built and per plan a command analyzes.
  */
object AnalysisCount {
  private val analyses = new AtomicInteger

  def register(ext: SparkSessionExtensions): Unit =
    ext.injectCheckRule(_ => _ => analyses.incrementAndGet())

  /** The analyses `body` runs. */
  def of[A](body: => A): (A, Int) = {
    val before = analyses.get
    val a = body
    (a, analyses.get - before)
  }
}
