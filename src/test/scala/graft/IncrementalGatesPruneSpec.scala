package graft

import graft.spark.{JobFence, SparkTestSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The incremental closure and component gates read the persisted org
  * graph's reportsTo edges through `PersistedGraph.predSlice`, so every
  * scan of the graph directory prunes to the predicate's `pred_bucket`.
  */
class IncrementalGatesPruneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A customer table of 40 rows: `Transcripts.orgChart` reads it. */
  private lazy val sfDir = {
    val dir = java.nio.file.Files.createTempDirectory("incr_gates_").toString
    spark.range(1, 41).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name")).write.parquet(s"$dir/customer.parquet")
    dir
  }

  Seq("kg_path_incr", "kg_cc_incr").foreach { name =>
    test(s"$name: every scan of the graph prunes pred_bucket") {
      val query = SparkEntry.queries(name)
      query(spark, sfDir).collect() // the first run persists the graph
      val (rows, plans) = JobFence.plansOf(spark)(query(spark, sfDir).collect())
      def lines(p: String) = p.linesIterator.map(_.trim).toSeq
      val scans = plans.map(p => lines(p).count(_.matches("""\(\d+\) Scan parquet.*""")))
      val pruned = plans.map(p =>
        lines(p).count(l => l.startsWith("PartitionFilters:") && l.contains("pred_bucket")))
      assert(rows.nonEmpty)
      assert(scans.sum > 0 && scans == pruned,
        s"a scan without bucket pruning:\n${plans.mkString("\n----\n")}")
    }
  }
}
