package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list
  * (`src: string, dst: string`), size-adaptive.
  *
  * The label-propagation loop costs `rounds × jobs/round × fixed scheduler
  * latency` regardless of data volume — for the component graphs a dedup or
  * entity-link stage actually produces (thousands of nodes after blocking),
  * that driver-side tax dominates end-to-end time while every task is
  * trivially small. So `run` materializes the edge list once, counts it, and
  * picks the physical strategy:
  *
  *  - **edges ≤ the components edge limit (10⁷, [[AdaptiveStrategy]])**:
  *    single-task union–find (path-halving) over the raw edges — one job,
  *    no symmetrize shuffle, no rounds. 10⁷ string edges is ≲1–2 GB of task
  *    heap, comfortably inside one executor; the output is identical
  *    (component = min reachable id in UTF-8 BYTE order — enforced by
  *    `bytesLess`, matching Spark's UTF8String `min` and DuckDB string
  *    order for arbitrary ids, not just ASCII).
  *  - **larger graphs**: the distributed loop below. Each round fuses one
  *    hop of neighbor min-label propagation with one pointer-jumping step
  *    (label := label's label), so label paths halve per round and
  *    convergence needs O(log diameter) rounds instead of O(diameter).
  *    Initialization runs per-partition union–find (partitioned by src, so
  *    a node's whole edge set is local), contracting all intra-partition
  *    structure before round 1 — the loop then only crosses the partition
  *    quotient graph. (A full forest-CONTRACTION cascade was considered
  *    and rejected: a spanning forest never has fewer edges than nodes, so
  *    contraction alone can never reach the single-task threshold once the
  *    node count alone exceeds it — the loop is the honest giant-graph
  *    path, and the union–find init buys it the same first-pass win.)
  *
  * Distributed-round cost notes (the round-1 version spent ~3 jobs/round and
  * detected convergence with a collision-prone hash-sum fingerprint):
  *  - the previous label rides along on each node's self row, so
  *    convergence is an EXACT check — `filter(changed).limit(1).isEmpty`
  *    over the just-materialized round output (a trivial scan of cached
  *    blocks with early exit), never a hash fingerprint that can collide
  *    into a silent wrong answer;
  *  - lineage is truncated every round via localCheckpoint; when the
  *    session has a reliable checkpoint dir configured
  *    (`sc.setCheckpointDir`), every [[CheckpointInterval]]-th round uses a
  *    reliable `checkpoint()` instead, so executor loss on a real cluster
  *    replays at most k rounds (localCheckpoint blocks die with their
  *    executor).
  */
object ConnectedComponents {

  /** @return (node, component) where component = min node id reachable.
    * @throws IllegalStateException if the distributed loop has not
    *         converged after `maxIterations` — non-converged labels are
    *         WRONG (mid-propagation values), so they must never be
    *         returned silently. Convergence needs ≈ log₂(diameter) + small
    *         slack rounds (the 512-node-chain spec converges in ≤14), so
    *         the default 64 covers any graph that fits on hardware —
    *         2^64 exceeds the diameter of any representable graph.
    */
  def run(edges: DataFrame, maxIterations: Int = 64): DataFrame = {
    // materialize the (possibly expensive) upstream pair pipeline exactly
    // once; its size picks the strategy. A NULL endpoint links nothing: its
    // edge keeps only the other endpoint, as a node.
    val (a, b) = (col("src").cast("string"), col("dst").cast("string"))
    val (raw, n) = ExtractPipeline.checkpointCounted(
      edges.select(coalesce(a, b).as("src"), coalesce(b, a).as("dst"))
        .filter(col("src").isNotNull))
    val spark = raw.sparkSession
    import spark.implicits._
    AdaptiveStrategy.run("ConnectedComponents", n, AdaptiveStrategy.limits.componentsEdges,
        raw.as[(String, String)])(labelPartition)(
      runDistributed(raw, n, maxIterations).as[(String, String)]).toDF("node", "component")
  }

  /** Every k-th distributed round checkpoints reliably (when the session
    * has a checkpoint dir), so executor loss replays at most k rounds.
    */
  private val CheckpointInterval = 5

  /** Edges one init task's union–find holds at most (see [[runDistributed]]). */
  private val MaxEdgesPerInitTask = 2000000L

  /** INCREMENTAL component maintenance — the linking/dedup twin of
    * [[Entailment.owlEntailIncremental]]: given a standing
    * `(node, component)` assignment (a [[run]] output — every component
    * label is the min member id, and is itself a node labeled with
    * itself) and a batch of NEW edges, return the assignment for the
    * union graph WITHOUT re-clustering the corpus.
    *
    * The standing assignment is a contraction certificate: every old path
    * collapses into "same label", so only the QUOTIENT graph needs
    * solving — the new edges with endpoints mapped to their current
    * labels. Merged quotient classes elect the min over old labels and
    * new node ids, which IS the global min of the merged component
    * (each old label is already its component's min member), so
    * incremental output is bit-identical to a from-scratch [[run]].
    *
    * Scale shape per crawl batch: the standing labels are semi-join
    * FILTERED to the delta's endpoints before the mapping joins (the big
    * table streams map-side against the endpoint set), the quotient
    * [[run]] sees a delta-sized graph, and the final remap is one join of
    * the labels against the delta-sized (old label → new label) moves —
    * nothing scales with corpus size except two co-partitioned passes
    * over the label table.
    */
  def incremental(labels: DataFrame, newEdges: DataFrame,
                  maxIterations: Int = 64): DataFrame = {
    val l = labels.select(col("node"), col("component")).localCheckpoint()
    val (e, n) = ExtractPipeline.checkpointCounted(
      newEdges.select(col("src").cast("string"), col("dst").cast("string")))
    if (n == 0) return l
    // the slice of the standing labels the delta can touch
    val endpoints = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val sub = l.join(endpoints, Seq("node"), "left_semi")
    val mapped = e
      .join(sub.select(col("node").as("src"), col("component").as("sc")), Seq("src"), "left")
      .join(sub.select(col("node").as("dst"), col("component").as("dc")), Seq("dst"), "left")
      .select(coalesce(col("sc"), col("src")).as("src"),
        coalesce(col("dc"), col("dst")).as("dst"))
    // quotient components: nodes are old labels and brand-new ids (run's
    // output is already materialized state, read twice below)
    val q = run(mapped, maxIterations)
    // old nodes follow their label's move (untouched labels keep)
    val moves = q.select(col("node").as("component"), col("component").as("qc"))
    val olds = l.join(moves, Seq("component"), "left")
      .select(col("node"), coalesce(col("qc"), col("component")).as("component"))
    // nodes first seen in this batch
    val fresh = q.join(l.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("component"))
    olds.unionByName(fresh)
  }

  /** UTF-8 byte order — the order Spark's `min` on UTF8String AND the
    * DuckDB oracles use. Java String.compareTo (UTF-16 code units) DIFFERS
    * on supplementary-plane characters (surrogates 0xD800+ sort below
    * 0xE000-0xFFFF code points, while their UTF-8 bytes 0xF0+ sort above),
    * and node ids here can embed arbitrary extracted text — the min
    * election must use the same order on every path or the single-task and
    * distributed strategies elect different component ids.
    */
  private def bytesLess(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Union–find (path halving) over one iterator of edges; emits
    * (node, component = min id in the class, UTF-8 byte ordering — see
    * [[bytesLess]]) for every node seen. Duplicate and self edges are
    * harmless; direction is ignored. Shared by the single-task path (whole
    * graph in one iterator) and the distributed loop's per-partition init
    * labeling.
    */
  private def labelPartition(it: Iterator[(String, String)]): Iterator[(String, String)] = {
    val parent = new java.util.HashMap[String, String]()
    def find(x0: String): String = {
      var x = x0
      var p = parent.get(x)
      if (p == null) { parent.put(x, x); return x }
      while (p != x) { // path halving: point x at its grandparent
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    it.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val minOf = new java.util.HashMap[String, String]()
    val nodes = parent.keySet().toArray(Array.empty[String])
    nodes.foreach { n =>
      val r = find(n)
      val cur = minOf.get(r)
      if (cur == null || bytesLess(n, cur)) minOf.put(r, n)
    }
    nodes.iterator.map(n => (n, minOf.get(find(n))))
  }

  /** O(log d)-round distributed loop for graphs too big for one task. */
  private def runDistributed(raw: DataFrame, edgeCount: Long,
                             maxIterations: Int): DataFrame = {
    val spark = raw.sparkSession
    val sc = spark.sparkContext
    import spark.implicits._
    // symmetrize once; dedup to keep join sides lean
    val sym = raw.select(col("src"), col("dst"))
      .union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()

    // init = per-partition union–find labels. Partitioning by src puts ALL
    // of a node's out-edges (sym is symmetric, so all its edges) in one
    // task, and local union–find contracts every intra-partition path in
    // that one pass — strictly stronger than a first propagation hop (a
    // node's label starts at the min over its whole partition-local
    // component, not just its direct neighbors), for the same cost class
    // (one shuffle of sym + one aggregate). The loop then only has to
    // propagate across the partition QUOTIENT graph, so its round count is
    // log(quotient diameter), not log(graph diameter) — on clustered
    // link/dedup graphs most components collapse before round 1.
    // (A node seen as dst in other partitions gets one row per partition;
    // groupBy-min reconciles them.)
    //
    // The per-partition union-find holds every endpoint string of its
    // partition in an UNSPILLABLE java HashMap, so the init partition count
    // must bound edges/task explicitly instead of inheriting the session
    // shuffle setting (2×10⁹ symmetrized edges over 200 partitions would be
    // a multi-GB map per task): ≈2·edgeCount/MaxEdgesPerInitTask tasks caps
    // the map at MaxEdgesPerInitTask entries (partitioning is by src, so a
    // hot node's edges still land together — upstream blocking degree-caps
    // make that bounded too). More partitions only weaken the CONTRACTION
    // (a coarser quotient for the loop), never correctness.
    val initParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      2L * edgeCount / MaxEdgesPerInitTask + 1L).toInt
    var labels = sym.repartition(initParts, col("src")).as[(String, String)]
      .mapPartitions(labelPartition)
      .toDF("node", "component")
      .groupBy(col("node"))
      .agg(min(col("component")).as("component"))
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      iter += 1
      // (1) neighbor propagation: dst observes src's label; each node's
      // self row carries its previous label (`old`) through the aggregate
      // so the convergence check needs no extra join
      val msgs = sym.join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("old"))
      val hop = labels.select(col("node"), col("component"), col("component").as("old"))
        .union(msgs)
        .groupBy(col("node"))
        .agg(min(col("component")).as("comp"), max(col("old")).as("old"))
      // (2) pointer jumping: component := component's component
      val newComp = least(coalesce(col("jc"), col("a.comp")), col("a.comp"))
      val jumped = hop.as("a")
        .join(hop.select(col("node").as("jn"), col("comp").as("jc")).as("b"),
          col("a.comp") === col("jn"), "left")
        .select(col("a.node").as("node"), newComp.as("component"),
          (col("a.old") =!= newComp).as("changed"))
      val next =
        if (iter % CheckpointInterval == 0 && sc.getCheckpointDir.isDefined)
          jumped.checkpoint()
        else jumped.localCheckpoint()
      // exact convergence: early-exit scan of the materialized blocks
      converged = next.filter(col("changed")).limit(1).isEmpty
      labels = next.select(col("node"), col("component"))
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds — " +
          "labels are mid-propagation and must not be used; raise maxIterations")
    labels
  }
}
