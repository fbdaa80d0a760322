package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-side counters attributed to one span: the jobs its calls ran, the
  * stages and tasks of those jobs, shuffle and spill bytes, executor GC and
  * CPU, and the worst stage's task skew (max ÷ median task time).
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var gcMs = 0L
  var cpuNs = 0L
  var runMs = 0L
  var taskSkew = 1.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; gcMs += o.gcMs; cpuNs += o.cpuNs; runMs += o.runMs
    taskSkew = math.max(taskSkew, o.taskSkew)
  }
  /** Executor CPU ÷ task run time: the rest of the run time is waiting. */
  def cpuShare: Double = if (runMs == 0) 0.0 else cpuNs / 1e6 / runMs
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "gc_s" -> gcMs / 1e3, "cpu_share" -> cpuShare, "task_skew" -> taskSkew)
}

/** One traced call: name, start and end (ns since the run began), the span
  * that caused it, and the counters of the jobs it ran itself.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long,
                      own: Counters)

/** Spans around the benchmark's calls into each layer, with a Spark
  * listener counting at the same boundaries. The listener is attached only
  * while a top-level span is open, so work between spans runs as in an
  * untraced run. A span tags the jobs it submits through a thread-local job
  * property, so counters land on the innermost open span. Spans stay in
  * memory until [[json]] renders them at the end of the run. A disabled
  * tracer runs the body untouched.
  */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      id.foreach { s =>
        Tracer.this.synchronized {
          spans(s).own.jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = spans(s).own
        val m = e.taskMetrics
        if (m != null) {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.gcMs += m.jvmGCTime
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
        }
        c.tasks += 1
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageSpan.get(id).foreach { s =>
        val c = spans(s).own
        c.stages += 1
        stageTaskMs.remove(id).filter(_.size >= 2).foreach { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).max(1L)
          c.taskSkew = math.max(c.taskSkew, sorted.last.toDouble / med)
        }
      }
    }
  }

  private def now: Long = System.nanoTime() - t0

  /** Run `body` inside a span named `name`; returns its result and wall
    * seconds. Spark events for the span's jobs are drained before it
    * closes, so its counters are complete when this returns.
    */
  def span[T](name: String)(body: => T): (T, Double) = {
    val start = System.nanoTime()
    if (!enabled) {
      val r = body
      return (r, (System.nanoTime() - start) / 1e9)
    }
    val s = synchronized {
      val sp = Span(spans.size, name, current, now, -1L, new Counters)
      spans += sp
      sp
    }
    val parent = current
    if (parent < 0) sc.addSparkListener(listener)
    current = s.id
    sc.setLocalProperty(Prop, s.id.toString)
    try {
      val r = body
      (r, (System.nanoTime() - start) / 1e9)
    } finally {
      s.end = now
      org.apache.spark.perfbench.BusDrain.drain(sc)
      if (parent < 0) sc.removeSparkListener(listener)
      current = parent
      sc.setLocalProperty(Prop, if (parent >= 0) parent.toString else null)
    }
  }

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counters of a span plus all its descendants. */
  def total(s: Span): Counters = {
    val c = new Counters
    c.add(s.own)
    children(s.id).foreach(ch => c.add(total(ch)))
    c
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfNs(s: Span): Long = (s.end - s.start) - children(s.id).map(ch => ch.end - ch.start).sum

  /** Counters summed over every span of the given name (with descendants). */
  def countersOf(name: String): Counters = synchronized {
    val c = new Counters
    spans.filter(_.name == name).foreach(s => c.add(total(s)))
    c
  }

  /** Every span as JSON, with self time and counters per span. */
  def json: String = synchronized {
    spans.map { s =>
      val c = s.own.toMap.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      s"""{"run_id": "$runId", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_ms": ${Json.num(s.start / 1e6)}, "end_ms": ${Json.num(s.end / 1e6)}, """ +
        s""""self_ms": ${Json.num(selfNs(s) / 1e6)}, "counters": {$c}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
