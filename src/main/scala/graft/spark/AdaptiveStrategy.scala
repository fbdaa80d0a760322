package graft.spark

import org.apache.spark.sql.{Dataset, Encoder}

/** The size-adaptive strategy protocol every iterative engine runs
  * through: closures and incremental closure ([[GraphQuery]]), the
  * entailment fixpoint ([[Entailment]]), pagerank ([[GraphRank]]) and
  * connected components ([[ConnectedComponents]]).
  *
  * A distributed fixpoint costs `rounds × jobs/round × fixed scheduler
  * latency` regardless of data volume, so below a size limit each engine
  * runs as ONE in-memory task instead. [[run]] is the whole protocol:
  * probe the input size, run the in-task body when the size is within the
  * engine's limit, and materialize its result HERE — so an in-task cap
  * overflow surfaces now, unwrapped from Spark's task-failure envelope,
  * and the distributed body runs instead. Each call logs one decision
  * line at INFO.
  */
private[graft] object AdaptiveStrategy {

  /** Admission limits (an engine runs in one task when its probed size is
    * at or under the limit) and in-task caps (past which the one task
    * calls [[overflow]] and the distributed body runs).
    *
    * @param closureEdges   closure edge count (the incremental closure:
    *                       the standing closure's size); also caps the
    *                       incremental delta in-task. 500k string edges is
    *                       ~25 MB in one task
    * @param closurePairs   in-task cap on derived closure pairs — a chain
    *                       or hub closes quadratically
    * @param entailFacts    entailment starting-graph fact count
    * @param entailResult   in-task cap on the entailed fact count
    * @param pagerankEdges  pagerank edge count
    * @param componentsEdges connected-components edge count: union–find
    *                       holds ~100 B/edge, so 10⁷ edges is 1–2 GB of
    *                       task heap (SURVEY §4.4)
    */
  final case class Limits(closureEdges: Long, closurePairs: Long,
                          entailFacts: Long, entailResult: Long,
                          pagerankEdges: Long, componentsEdges: Long)

  object Limits {
    val Production: Limits = Limits(
      closureEdges = 500000L, closurePairs = 20000000L,
      entailFacts = 300000L, entailResult = 3000000L,
      pagerankEdges = 500000L, componentsEdges = 10000000L)
    /** Every admission limit at 0: each engine takes its distributed body
      * (an empty input still fits one task).
      */
    val ForceDistributed: Limits = Production.copy(closureEdges = 0L,
      entailFacts = 0L, pagerankEdges = 0L, componentsEdges = 0L)
  }

  /** One engine call's strategy decision. */
  final case class Decision(engine: String, size: Long, limit: Long,
                            strategy: String, fallback: Boolean)

  /** Thrown inside the one task when a cap is exceeded; [[run]] catches it
    * and runs the distributed body.
    */
  private final val OverflowMarker = "graft-single-task-overflow"

  def overflow(): Nothing = throw new IllegalStateException(OverflowMarker)

  private final class Scope(val limits: Limits,
                            val decisions: Option[scala.collection.mutable.Buffer[Decision]])

  // thread-local, not inheritable: a pooled thread Spark happens to start
  // inside a test scope must not keep that scope's limits
  private val scope = ThreadLocal.withInitial[Scope](() => new Scope(Limits.Production, None))

  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** The limits in force for engine calls on this thread. */
  def limits: Limits = scope.get.limits

  /** The one test seam: runs `body` with `limits` in place of
    * [[Limits.Production]] on this thread, restoring them on exit, and
    * returns the body's value with every decision taken inside it.
    */
  def withLimits[A](limits: Limits)(body: => A): (A, Seq[Decision]) = {
    val decisions = scala.collection.mutable.ArrayBuffer.empty[Decision]
    val outer = scope.get
    scope.set(new Scope(limits, Some(decisions)))
    val a = try body finally scope.set(outer)
    (a, decisions.toSeq)
  }

  /** Run one engine call through the protocol.
    *
    * @param size        the engine's size probe, evaluated once
    * @param limit       admission limit for `size`
    * @param input       the rows the in-task body reads, coalesced to one
    *                    partition
    * @param inTask      the in-task body (built only when admitted); it
    *                    calls [[overflow]] when a cap is exceeded
    * @param distributed the distributed body
    */
  def run[I, O: Encoder](engine: String, size: => Long, limit: Long, input: Dataset[I])
                        (inTask: => Iterator[I] => Iterator[O])
                        (distributed: => Dataset[O]): Dataset[O] = {
    val n = size
    val single =
      if (n <= limit) materialize(input.coalesce(1).mapPartitions(inTask)) else None
    val d = Decision(engine, n, limit,
      if (single.isDefined) "single-task" else "distributed",
      fallback = n <= limit && single.isEmpty)
    log.info(s"${d.engine}: size=${d.size} limit=${d.limit} strategy=${d.strategy} " +
      s"fallback=${d.fallback}")
    scope.get.decisions.foreach(_ += d)
    single.getOrElse(distributed)
  }

  /** Some(materialized result); None when the cause chain carries
    * [[OverflowMarker]]. Any other in-task IllegalStateException (an
    * engine's iteration-cap contract) is rethrown unwrapped; anything else
    * rethrows as is. The message may be NULL on any cause.
    */
  private def materialize[T](out: Dataset[T]): Option[Dataset[T]] =
    try Some(out.localCheckpoint())
    catch {
      case e: Throwable =>
        val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq
        if (causes.exists(c => Option(c.getMessage).exists(_.contains(OverflowMarker)))) None
        else throw causes.collectFirst { case c: IllegalStateException => c }.getOrElse(e)
    }
}
