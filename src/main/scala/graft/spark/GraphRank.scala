package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity-importance scoring over the extracted knowledge graph: PageRank
  * on the (subj → obj_iri) link structure — the aggregate consumers rank
  * hub entities with once a corpus-scale graph exists (the reference's
  * page-scale world has no analog; RDF.rb stops at Queryable. Power
  * iteration itself is the standard formulation, e.g. Page et al. 1999).
  *
  * DETERMINISTIC BY CONSTRUCTION — the same fixed-point discipline as the
  * k-means trainer (VectorOps.kmeansCentroids): ranks live in integer
  * MICRO-units (1.0 ≡ 1,000,000), every per-edge contribution is an
  * integer `div` computed BEFORE the aggregation, and the per-node
  * aggregate is a sum of longs — associative and commutative, so the
  * result is bit-identical under any partitioning, any AQE re-plan, and
  * replayable by the DuckDB oracle with the same arithmetic.
  *
  * Update rule (unnormalized convention, rank mass 1.0 per node):
  * `r_{i+1}(v) = (1−d) + Σ_{u→v} floor(r_i(u)·d / outdeg(u))` in micros.
  * Dangling nodes (no outlinks) leak their mass — the standard
  * simplification; documented, mirrored in the oracle.
  *
  * 100-TB shape: edges ⋈ outdeg is computed ONCE and checkpointed
  * partitioned on src; each iteration is one co-partitioned equi-join
  * (ranks shuffle to the edge partitioning — the rank table is
  * node-sized, the smaller side) plus one partial-agg groupBy on dst.
  * No driver-side state, no broadcast of anything data-sized; iteration
  * count is fixed (power iteration, not convergence-tested), so the job
  * graph is static and lineage is cut per iteration.
  */
object GraphRank {

  val DampPpm = 850000L // d = 0.85 in parts-per-million
  val UnitMicros = 1000000L

  /** Largest rank whose damped contribution still fits a Long. Total rank
    * mass is conserved at ~n·10⁶ micros, so a single node can only
    * approach this (~10⁸ rank units) when a ≥10⁸-node graph funnels into
    * one hub — rare but REAL at corpus scale, and a silent wrap would
    * aggregate garbage (negative) ranks. The contribution expression
    * therefore raises instead of wrapping (same no-silent-corruption
    * stance as sourceMixture's ppm bound; a detected overflow means the
    * caller should rescale UnitMicros, not trust wrapped output).
    */
  val MaxSafeRankMicros: Long = Long.MaxValue / DampPpm

  /** PageRank over an explicit edge list `(src, dst)`. Returns
    * `(node, rank_micros)` for every node appearing as src or dst.
    *
    * Size-adaptive through [[AdaptiveStrategy.run]]: at or under the
    * pagerank edge limit the power iteration runs as one in-memory task
    * (the distributed loop costs iters × jobs × scheduler latency
    * regardless of data volume). The arithmetic is exact commutative
    * integer math, so the two strategies are bit-identical by construction.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // the edge slice's size picks the strategy
    val (e0, n) = ExtractPipeline.checkpointCounted(edges.select(col("src"), col("dst")))
    val spark = e0.sparkSession
    import spark.implicits._
    AdaptiveStrategy.run("GraphRank.pagerank", n,
        AdaptiveStrategy.limits.pagerankEdges, e0.as[(String, String)])(
      pagerankKernel(_, iters))(
      pagerankDistributed(e0, iters).as[(String, Long)]).toDF("node", "rank_micros")
  }

  private def pagerankKernel(it: Iterator[(String, String)], iters: Int): Iterator[(String, Long)] = {
    val srcs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val outdeg = new java.util.HashMap[String, Long]()
    val nodes = scala.collection.mutable.LinkedHashSet.empty[String]
    it.foreach { case (s, d) =>
      srcs += ((s, d))
      outdeg.merge(s, 1L, (a, b) => a + b)
      nodes += s; nodes += d
    }
    val r = new java.util.HashMap[String, Long]()
    nodes.foreach(n => r.put(n, UnitMicros))
    var i = 0
    while (i < iters) {
      i += 1
      val contrib = new java.util.HashMap[String, Long]()
      srcs.foreach { case (s, d) =>
        val rs = r.get(s)
        if (rs > MaxSafeRankMicros)
          throw new IllegalStateException(
            "pagerank rank overflow: a node rank exceeds Long.MaxValue/damp — rescale UnitMicros")
        contrib.merge(d, (rs * DampPpm) / (outdeg.get(s) * UnitMicros), (a, b) => a + b)
      }
      nodes.foreach { n =>
        r.put(n, (UnitMicros - DampPpm) + contrib.getOrDefault(n, 0L))
      }
    }
    nodes.iterator.map(n => (n, r.get(n)))
  }

  private def pagerankDistributed(e0: DataFrame, iters: Int): DataFrame = {
    // e0 is already materialized (lazy checkpoint + the strategy count) —
    // a second localCheckpoint would copy every edge into new blocks
    val e = e0
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val withDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .join(e, "src").localCheckpoint()
    var r = nodes.withColumn("r", lit(UnitMicros))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(r, col("src") === col("node"))
        // per-EDGE integer floor division before the sum: the aggregate is
        // then a plain long sum — partition-order independent
        .select(col("dst"),
          expr(s"""CASE WHEN r > ${MaxSafeRankMicros}L
                   THEN CAST(raise_error('pagerank rank overflow: a node rank exceeds Long.MaxValue/damp — rescale UnitMicros') AS BIGINT)
                   ELSE (r * $DampPpm) div (outdeg * $UnitMicros) END""").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(UnitMicros - DampPpm) + coalesce(col("s"), lit(0L))).as("r"))
        .localCheckpoint()
    }
    r.select(col("node"), col("r").as("rank_micros"))
  }

  /** PageRank over a persisted graph's IRI→IRI link structure, optionally
    * restricted to one predicate (with the same pushdown/pruning benefits
    * as [[GraphQuery.pathPlus]]'s edge slice).
    */
  def pagerank(g: GraphQuery.PersistedGraph, pred: Option[String],
               iters: Int): DataFrame = {
    val iriEdges = g.df.filter(col("obj_iri").isNotNull)
    val slice = pred.fold(iriEdges)(p => iriEdges.filter(g.predSlice(Seq(p))))
    pagerank(slice.select(col("subj").as("src"), col("obj_iri").as("dst"))
      .distinct(), iters)
  }
}
