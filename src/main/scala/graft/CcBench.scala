package graft

import graft.spark.{AdaptiveStrategy, ConnectedComponents, GraftSession}
import graft.spark.AdaptiveStrategy.Limits
import org.apache.spark.sql.functions._

/** Connected-components strategy evidence at real edge counts: generates a
  * deterministic pseudo-random multigraph (portable LCG, no Math.random),
  * runs BOTH physical strategies on the same edges, checks they agree
  * exactly, and prints one JSON line per size — the measured basis for the
  * components edge limit in [[AdaptiveStrategy.Limits]] (SURVEY §4.4).
  * Both strategies are forced through the [[AdaptiveStrategy.withLimits]]
  * seam.
  *
  * Usage: runMain graft.CcBench [edgeCounts...]   (default 1e6 4e6 16e6)
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(1000000L, 4000000L, 16000000L)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    sizes.foreach { nEdges =>
      val nNodes = nEdges / 2 // avg degree 4 after symmetrize
      // Two deterministic shapes:
      //  - "random": dst by murmur hash — low-diameter giant component,
      //    the typical dedup/link graph;
      //  - "cycle": dst by an affine map mod N — i and i+N produce the
      //    SAME edge, so the graph degenerates to a union of huge cycles
      //    (diameter Θ(N)): the worst case for label propagation, which
      //    exposed the old silent round-cap bug.
      val shape = sys.env.getOrElse("SPARK_GRAFT_CC_SHAPE", "both")
      val shapes = Seq(
        "random" -> spark.range(nEdges).select(
          format_string("n%09d", pmod(col("id"), lit(nNodes))).as("src"),
          format_string("n%09d", pmod(hash(col("id")).cast("long"), lit(nNodes))).as("dst")),
        "cycle" -> spark.range(nEdges).select(
          format_string("n%09d", pmod(col("id"), lit(nNodes))).as("src"),
          format_string("n%09d",
            // 31-bit multiplier: id ≤ ~2^25 keeps the product below 2^63
            // (Spark 4 ANSI mode throws on long overflow)
            pmod(col("id") * 1103515245L + 12345L, lit(nNodes))).as("dst"))
      ).filter(s => shape == "both" || shape == s._1)
      shapes.foreach { case (shapeName, edges) =>
        runOne(nEdges, shapeName, edges)
      }
    }
    spark.stop()
  }

  private def runOne(nEdges: Long, shapeName: String,
                     edges: org.apache.spark.sql.DataFrame): Unit = {

    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val n = f; (n, (System.nanoTime() - t0) / 1e9)
    }
    // run() + count inside the timer: both strategies materialize their
    // result inside run(), so the mismatch join below reads cached blocks
    // for BOTH sides instead of re-running either CC
    var uf: org.apache.spark.sql.DataFrame = null
    val (ufRows, ufSecs) = timed {
      uf = AdaptiveStrategy.withLimits(
        Limits.Production.copy(componentsEdges = Long.MaxValue))(ConnectedComponents.run(edges))._1
      uf.count()
    }
    var dist: org.apache.spark.sql.DataFrame = null
    val (distRows, distSecs) = timed {
      dist = AdaptiveStrategy.withLimits(Limits.ForceDistributed)(ConnectedComponents.run(edges))._1
      dist.count()
    }
    // exact agreement: both (node, component) sets identical — reuse the
    // timed run's (deterministic, already-materialized) frame instead of
    // paying a third full CC pass
    val mismatches = uf.withColumnRenamed("component", "cuf")
      .join(dist.withColumnRenamed("component", "cdist"), Seq("node"), "full")
      .filter(not(col("cuf") <=> col("cdist"))).count()
    println(s"""{"edges":$nEdges,"shape":"$shapeName","nodes":$ufRows,"union_find_secs":$ufSecs,"distributed_secs":$distSecs,"rows_match":${ufRows == distRows},"mismatches":$mismatches}""")
  }
}
