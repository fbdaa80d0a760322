package graft.ops

import graft.spark.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality on the planted-near-dup corpus (originals ∪ deterministic
  * perturbed copies, cos ≈ 0.999): both scale paths must find every planted
  * duplicate. The raw embeddings are isotropic noise (max pair cos ≈ 0.6),
  * so threshold 0.9 isolates exactly the planted pairs.
  */
class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def corpus = {
    val e = embs
    e.select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
      .unionByName(VectorOps.perturbed(e, eps = 0.05, seed = 999983, idSuffix = "_p"))
  }

  test("multi-table LSH recall is 1.0 on planted near-dups") {
    val r = VectorOps.lshRecall(embs, nBits = 8, nTables = 4, threshold = 0.9).head()
    assert(r.getLong(0) == embs.count())   // exact pairs == planted pairs
    assert(r.getDouble(2) == 1.0)
  }

  test("IVF top-1 neighbor of every original is its planted copy") {
    // nProbe=4: the 5% perturbation can shift near-tied centroid rankings,
    // so a copy's home cell can sit at probe rank 3-4 of its original
    // (measured: nProbe=2 → recall 0.992, nProbe=4 → 1.0 at every sf)
    val top1 = VectorOps.ivfTopK(corpus, m = 16, nProbe = 4, k = 1)
      .filter(!col("vec_a").endsWith("_p"))
      .select(col("vec_a"), col("vec_b")).collect()
    assert(top1.length == embs.count())
    assert(top1.forall(r => r.getString(1) == r.getString(0) + "_p"))
  }

  test("two-level IVF with one sub-cell per coarse cell equals single-level IVF") {
    // m2 = 1 collapses level 2: every coarse cell has exactly one sub-cell,
    // so a pair meets iff the query probes the candidate's home coarse cell
    // — exactly the single-level semantics. The full chains must agree.
    val one = VectorOps.ivfTopK(corpus, m = 16, nProbe = 4, k = 1)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank"))
      .collect().map(_.toSeq).toSet
    val two = VectorOps.ivfTwoLevelTopK(corpus, m1 = 16, m2 = 1, nProbe1 = 4,
        nProbe2 = 1, k = 1)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(two == one && one.nonEmpty)
  }

  test("trained two-level IVF with one sub-cell per coarse cell equals trained single-level") {
    val one = VectorOps.ivfTopKTrained(corpus, m = 8, iters = 2, nProbe = 2, k = 1)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank"))
      .collect().map(_.toSeq).toSet
    val two = VectorOps.ivfTwoLevelTopKTrained(corpus, m1 = 8, iters = 2, m2 = 1,
        nProbe1 = 2, nProbe2 = 1, k = 1)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(two == one && one.nonEmpty)
  }

  test("two-level IVF: valid ranks, no duplicate pairs, no cartesian in plan") {
    val out = VectorOps.ivfTwoLevelTopK(corpus, m1 = 8, m2 = 4, nProbe1 = 4,
      nProbe2 = 2, k = 3)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => { val k = r.getInt(3); k >= 1 && k <= 3 }))
    val pairs = rows.map(r => (r.getString(0), r.getString(1)))
    assert(pairs.distinct.length == pairs.length, "a pair met in two cells")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian leaked into:\n$plan")
  }

  test("NULL embedding gets a NULL bucket, never false bucket 0") {
    import spark.implicits._
    val df = Seq(("a", null: Seq[Float]), ("b", Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val rows = VectorOps.lshBuckets(df, nBits = 4, nTables = 2)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val byId = rows.groupBy(_._1)
    assert(byId("a").forall(_._2.isEmpty),
      "null embedding must bucket to NULL, not pair with bucket 0")
    assert(byId("b").forall(_._2.nonEmpty))
  }

  test("embedding with a NULL ELEMENT gets a NULL bucket") {
    // a null element nulls every dot product, so without the guard each bit
    // would fall to otherwise(0) and the row would false-pair with every
    // genuine bucket-0 vector
    val one = spark.range(1)
    val df = one.select(lit("a").as("vec_id"),
        expr("array(cast(1.0 as float), cast(null as float), cast(3.0 as float))").as("embedding"))
      .unionByName(one.select(lit("b").as("vec_id"),
        expr("array(cast(1.0 as float), cast(2.0 as float), cast(3.0 as float))").as("embedding")))
    val rows = VectorOps.lshBuckets(df, nBits = 4, nTables = 2)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val byId = rows.groupBy(_._1)
    assert(byId("a").forall(_._2.isEmpty), "null-element embedding must bucket to NULL")
    assert(byId("b").forall(_._2.nonEmpty))
  }

  test("near-dup groups pair every original with exactly its copy") {
    val groups = VectorOps.nearDupGroups(corpus, nBits = 8, nTables = 4, threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = embs.count()
    assert(groups.length == 2 * n)
    assert(groups.forall { case (v, keep) => keep == v.stripSuffix("_p") })
  }
}
