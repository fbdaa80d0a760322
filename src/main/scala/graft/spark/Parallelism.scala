package graft.spark

import org.apache.spark.sql.DataFrame

/** Input-parallelism guard (guide §2.5 "input skew": one small — or
  * unsplittable — input file scans as a SINGLE partition, serializing every
  * downstream per-row projection onto one core while the rest of the
  * cluster idles; measured locally as the whole n² of sim_topk and the
  * whole shingle explode of the dedup family running in one task).
  */
object Parallelism {

  /** Raise a too-narrow batch input to the session's default parallelism
    * with one round-robin repartition. Inputs that already carry at least
    * `defaultParallelism` partitions — any real-scale scan — pass through
    * untouched, so the repartition shuffle exists exactly when it is
    * cheap (the input is small) and worth it (cores would otherwise sit
    * idle). Round-robin with Spark's default sort-before-repartition is
    * deterministic under retries; every consumer of a spread frame is
    * partition-order independent (set-semantics aggregations/joins,
    * commutative fixed-point sums), so results are unchanged.
    *
    * Streaming frames pass through: their partitioning is per-batch and
    * `.rdd` introspection is not available mid-plan.
    *
    * For scan-shaped inputs only (a file scan, a checkpoint, a small local
    * frame): under AQE the `.rdd` partition probe materializes every
    * upstream exchange of a frame that already shuffles, as extra work
    * ahead of the query that uses it.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
