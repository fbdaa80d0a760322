package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`), pure
  * Catalyst expressions (codegen'd, no UDF).
  *
  * Exact paths (cosinePairs, topK) are **blocked all-pairs equi-joins**:
  * each vector is assigned a block by id hash and replicated across the
  * block-pair keys it participates in, so the n² compute distributes as
  * B(B+1)/2 independent equi-join buckets with bounded task memory — no
  * BroadcastNestedLoopJoin, no driver-side broadcast of the whole table, no
  * single-task cartesian. (Exact threshold/top-k similarity over isotropic
  * vectors is inherently Ω(n²) compute; the blocked join is how that
  * compute survives a 1000-executor cluster.)
  *
  * Scale path (lshBucketedPairs): multi-table random-hyperplane LSH with
  * engine-portable hyperplanes (PortableHash.plane — LCG arithmetic, no
  * stored model), dimensionality taken from the array itself. Candidates
  * are verified with exact cosine, so precision is exact and recall is the
  * standard 1−(1−p^bits)^tables tradeoff — measured honestly by
  * `lshRecall` against the exact path.
  */
object VectorOps {

  /** Σ aᵢbᵢ over two float arrays, in double: a native codegen'd Catalyst
    * expression (graft.functions.FloatDotProduct) — identical accumulation
    * order to the composable `aggregate(zip_with(...))` form but without the
    * per-pair intermediate array.
    */
  def dot(a: Column, b: Column): Column = graft.functions.FloatDotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def withNorm(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))

  /** The exact paths' block count B: B(B+1)/2 join buckets for
    * [[cosinePairs]], B² for [[topK]].
    */
  private final val Blocks = 8

  /** [[withNorm]] over an input raised to the session's parallelism
    * ([[graft.spark.Parallelism.spread]]) and assigned its block: the
    * exact paths' n² join work runs in as many tasks as there are
    * block-pair keys, not in the one task of a single-file input.
    */
  private def blocked(embs: DataFrame): DataFrame =
    withNorm(graft.spark.Parallelism.spread(embs))
      .withColumn("blk", pmod(hash(col("vec_id")), lit(Blocks)))

  /** try_divide, not `/`: under Spark 4 ANSI a zero-norm vector would
    * otherwise throw DIVIDE_BY_ZERO and fail the whole job; a null cosine
    * instead fails every `>= threshold` filter, so degenerate vectors
    * quietly pair with nothing (DuckDB's 0/0 = NaN fails the same filters,
    * so oracle parity holds on any corpus that contains them).
    */
  private def cosSim(aEmb: Column, aNrm: Column, bEmb: Column, bNrm: Column): Column =
    try_divide(dot(aEmb, bEmb), aNrm * bNrm)

  /** Exact all-pairs cosine ≥ threshold as a blocked equi-join.
    *
    * Unordered block pairs: a vector in block g joins key (i=g, j) for all
    * j ≥ g on the left and (i, j=g) for all i ≤ g on the right, so every
    * vector pair meets in exactly one (i, j) bucket; i == j needs the id
    * tiebreak. Replication factor ≈ B/2 per side; per-bucket work n²/B².
    */
  def cosinePairs(embs: DataFrame, threshold: Double): DataFrame = {
    val e = blocked(embs)
    val left = e.withColumn("bj", explode(array((0 until Blocks).map(lit): _*)))
      .filter(col("bj") >= col("blk"))
      .withColumnRenamed("blk", "bi")
    val right = e.withColumn("bi", explode(array((0 until Blocks).map(lit): _*)))
      .filter(col("bi") <= col("blk"))
      .withColumnRenamed("blk", "bj")
    left.as("a").join(right.as("b"),
        col("a.bi") === col("b.bi") && col("a.bj") === col("b.bj") &&
          (col("a.bi") =!= col("a.bj") || col("a.vec_id") < col("b.vec_id")) &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", cosSim(col("a.embedding"), col("a.nrm"), col("b.embedding"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** Exact cosine top-k per query vector, blocked + hierarchical:
    * query q (block g) replicates to keys (g, 0..B−1); candidate c (block
    * h) to keys (0..B−1, h) — each ordered (q, c) pair meets once at
    * (g, h). Top-k is taken per (query, candidate-block) first (partitions
    * of ≈ n/B rows), then globally over the B·k survivors — the ranking
    * window never sees n² rows.
    */
  def topK(embs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = blocked(embs)
    val q = e.withColumn("cb", explode(array((0 until Blocks).map(lit): _*)))
      .withColumnRenamed("blk", "qb")
    val c = e.withColumn("qb", explode(array((0 until Blocks).map(lit): _*)))
      .withColumnRenamed("blk", "cb")
    val scored = q.as("a").join(c.as("b"),
        col("a.qb") === col("b.qb") && col("a.cb") === col("b.cb") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("b.cb").as("cb"),
        cosSim(col("a.embedding"), col("a.nrm"), col("b.embedding"), col("b.nrm")).as("cos"))
    val perBlock = Window.partitionBy(col("vec_a"), col("cb"))
      .orderBy(col("cos").desc, col("vec_b"))
    val global = Window.partitionBy(col("vec_a")).orderBy(col("cos").desc, col("vec_b"))
    scored
      .withColumn("br", row_number().over(perBlock)).filter(col("br") <= k)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"), col("rank"))
  }

  /** Multi-table random-hyperplane LSH near-neighbor pairs ≥ threshold.
    *
    * One exploded pass computes every table's bucket (dimensionality from
    * `size(embedding)`, hyperplanes from portable LCG arithmetic); the
    * self-join is an equi-join on (table, bucket) — never all-pairs.
    * Candidate pairs (deduped across tables) are verified with exact
    * cosine: precision exact, recall = 1−(1−p^nBits)^nTables per pair.
    */
  def lshBucketedPairs(embs: DataFrame, nBits: Int, nTables: Int,
                       threshold: Double): DataFrame = {
    val cand = lshCandidates(embs, nBits, nTables)
    val e = withNorm(embs)
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos", cosSim(col("ea"), col("na"), col("eb"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Per-(vector, table) bucket ids — the LSH bucketing stage, one exploded
    * codegen'd pass over the corpus ([[PortableHash.lshBucket]]).
    */
  def lshBuckets(embsIn: DataFrame, nBits: Int, nTables: Int): DataFrame =
    graft.spark.Parallelism.spread(embsIn).select(col("vec_id"), col("embedding"))
      .withColumn("table_id", explode(array((0 until nTables).map(lit): _*)))
      .withColumn("bucket", PortableHash.lshBucket(col("embedding"), col("table_id"), nBits))
      .select(col("vec_id"), col("table_id"), col("bucket"))

  /** Distinct candidate pairs sharing ≥1 LSH bucket in ≥1 table. */
  def lshCandidates(embs: DataFrame, nBits: Int, nTables: Int): DataFrame = {
    val tabled = lshBuckets(embs, nBits, nTables)
    tabled.as("x").join(tabled.as("y"),
        col("x.table_id") === col("y.table_id") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** Deterministically perturbed copy of each vector (relative per-dim
    * noise from the portable plane LCG, seeded off `seed`): cos(v, v′) ≈
    * 1 − ε²·Var ≈ 0.999 — the planted near-duplicate corpus for honest
    * LSH recall measurement (the raw embeddings table is isotropic noise
    * with NO near-dup structure: max off-diagonal cos ≈ 0.6).
    */
  def perturbed(embs: DataFrame, eps: Double, seed: Int, idSuffix: String): DataFrame =
    embs.select(
      concat(col("vec_id").cast("string"), lit(idSuffix)).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") * (lit(1.0) + lit(eps) * PortableHash.plane(lit(seed), i)))
          .cast("float")).as("embedding"))

  // ---------- IVF-style ANN (coarse quantizer + cell equi-join) ----------

  /** Coarse-quantizer centroids: the `m` vectors with the smallest ids — a
    * deterministic, trainless stand-in (the test corpus is isotropic noise,
    * so Lloyd iterations would not converge to anything better). Swap in
    * k-means-trained centroids at deployment; every downstream plan shape
    * (broadcast scoring join, cell equi-join) is unchanged. Cell ids are
    * strings so both assignment paths (and the oracle) break cosine ties
    * identically.
    */
  def ivfCentroids(embs: DataFrame, m: Int): DataFrame =
    centroidsFromNormed(withNorm(embs), m)

  /** The ONE centroid stand-in policy (smallest-id members of a pre-normed
    * frame) — shared by the flat and two-level quantizers so a policy
    * change (e.g. swapping in trained centroids or a different tie-break)
    * cannot silently diverge them.
    */
  private def centroidsFromNormed(e: DataFrame, m: Int): DataFrame =
    e.orderBy(col("vec_id")).limit(m)
      .select(col("vec_id").cast("string").as("c_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))

  /** Assign every vector to its `nProbe` nearest centroids by cosine (ties
    * broken on centroid id as string). The centroid set is a MODEL, not
    * data, and the physical strategy adapts to its size:
    *
    *  - **m ≤ `literalMaxCentroids`**: fold the model into a literal array
    *    column — scoring + top-nProbe happen inside one codegen'd projection
    *    per row. No join, no shuffle, no window. Fastest plan, but literal
    *    folding stops scaling past ~10³ entries (plan size / codegen
    *    limits).
    *  - **larger m** (IVF wants √n cells — 10⁶ at 10¹² vectors): a
    *    BroadcastHashJoin against the broadcast centroid table (the build
    *    side is the bounded model, never corpus data), then per-vector
    *    top-nProbe via the bounded [[graft.functions.TopKByScore]]
    *    aggregate — O(nProbe) reducer memory regardless of m, with map-side
    *    partials collapsing the m scored rows per vector before the
    *    exchange. The join key is a derived constant (pmod(hash(id), 1)) so
    *    Catalyst plans a hash join, not a BroadcastNestedLoopJoin.
    */
  def ivfAssign(embs: DataFrame, centroids: DataFrame, nProbe: Int,
                literalMaxCentroids: Int = 128): DataFrame =
    // m model rows, like loading any ANN index
    assignPrepared(withNorm(embs), centroids.collect(), centroids,
      nProbe, literalMaxCentroids)

  /** [[ivfAssign]] over an already-normed frame and an already-loaded model
    * — lets multi-pass entry points ([[ivfTopK]]) checkpoint the corpus and
    * collect the model ONCE instead of per assignment pass.
    */
  private def assignPrepared(e: DataFrame, cents: Array[org.apache.spark.sql.Row],
                             centroidDf: DataFrame, nProbe: Int,
                             literalMax: Int): DataFrame =
    assignCells(e, cents.length,
      cents.toIndexedSeq.map { r =>
        struct(lit(r.get(0)).as("cell"),
          typedlit(r.getSeq[Float](1)).as("c_emb"),
          lit(r.getDouble(2)).as("c_nrm"))
      },
      centroidDf, dot, nProbe, literalMax, keep = Seq("vec_id"))

  /** Cosine for ranking, with the degenerate zero-norm case pinned BELOW
    * any real value. A zero-norm side makes the plain division throw under
    * Spark 4 ANSI (failing the whole job), and were a NaN to surface, the
    * two physical assignment strategies would rank it OPPOSITELY (the
    * ascending struct sort puts negcos = NaN last = never probed;
    * TopKByScore's Double.compare total order puts NaN first = always
    * probed). try_divide → null → −2 makes dead cells never probed on
    * EITHER path, and a zero-norm query degrade to the deterministic
    * all-ties cell-asc order.
    */
  private def safeCos(num: Column, den: Column): Column =
    coalesce(nanvl(try_divide(num, den), lit(-2.0)), lit(-2.0))

  /** The one implementation of adaptive nProbe-nearest-cell assignment
    * mechanics, shared by the float-model ([[ivfAssign]]) and trained
    * double-model (kmeansAssign) front ends so strategy switching,
    * tie-breaking, and the NaN policy cannot diverge between them:
    *
    *  - `m <= literalMax`: model folds into a literal array column;
    *    struct(−cos, cell) sorted ascending == (cos desc, cell asc), one
    *    codegen'd projection, no join/shuffle/window;
    *  - larger m: BroadcastHashJoin against the broadcast centroid table on
    *    a derived constant key (hash-join plan, build side = the bounded
    *    model only), then per-vector top-nProbe via the bounded
    *    TopKByScore aggregate — O(nProbe) reducer memory regardless of m.
    */
  private def assignCells(e: DataFrame, m: Int,
                          literalStructs: => Seq[Column],
                          centroidDf: => DataFrame,
                          dotFn: (Column, Column) => Column,
                          nProbe: Int, literalMax: Int,
                          keep: Seq[String]): DataFrame = {
    if (m <= literalMax) {
      val scored = transform(array(literalStructs: _*), c => struct(
        (-safeCos(dotFn(col("embedding"), c.getField("c_emb")),
          col("nrm") * c.getField("c_nrm"))).as("negcos"),
        c.getField("cell").as("cell")))
      e.withColumn("probe", explode(slice(sort_array(scored), 1, nProbe)))
        .select(keep.map(col) :+ col("probe.cell").as("cell"): _*)
    } else {
      val left = e.withColumn("jk", pmod(hash(col("vec_id")), lit(1)))
      val right = broadcast(centroidDf.withColumn("jk", pmod(hash(col("c_id")), lit(1))))
      left.join(right, "jk")
        .select(keep.map(col) :+
          safeCos(dotFn(col("embedding"), col("c_emb")),
            col("nrm") * col("c_nrm")).as("ccos") :+ col("c_id"): _*)
        .groupBy(keep.map(col): _*)
        .agg(graft.functions.TopKByScore(col("ccos"), col("c_id"), nProbe).as("top"))
        .select(keep.map(col) :+ explode(col("top")).as("probe"): _*)
        .select(keep.map(col) :+ col("probe.payload").as("cell"): _*)
    }
  }

  /** IVF approximate top-k: candidates are indexed under their single
    * nearest cell; queries probe their `nProbe` nearest cells; pairs meet
    * in a cell equi-join and are ranked by exact cosine. Approximate (a
    * true neighbor outside the probed cells is missed) — the oracle
    * replicates the algorithm, and recall is measured in the spec against
    * the planted-near-dup corpus.
    */
  def ivfTopK(embs: DataFrame, m: Int, nProbe: Int, k: Int): DataFrame = {
    // the normed corpus feeds both assignment passes and the exact-rank
    // join — materialize it once and load the centroid model once (the
    // discipline ivfTopKTrained / ivfTwoLevelTopK already follow)
    val e = withNorm(embs).localCheckpoint()
    val centDf = centroidsFromNormed(e, m)
    val cents = centDf.collect()
    rankCellPairs(assignPrepared(e, cents, centDf, nProbe, 128),
      assignPrepared(e, cents, centDf, 1, 128), e, k)
  }

  /** Shared IVF tail: join query probes against single-cell candidate
    * index, rank each query's cell-mates by exact cosine, keep top-k.
    * (Cells per query are distinct, and each candidate is indexed under ONE
    * cell, so a pair meets at most once — no dedup shuffle needed.)
    */
  private def rankCellPairs(queries: DataFrame, cands: DataFrame,
                            e: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = queries.as("q").join(cands.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("vec_a"), col("c.vec_id").as("vec_b"))
    val scored = pairs
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosSim(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
    val w = Window.partitionBy(col("vec_a")).orderBy(col("cos").desc, col("vec_b"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"), col("rank"))
  }

  // ---------- deterministic k-means trainer (IVF coarse quantizer) ----------

  /** Σ aᵢbᵢ with a DOUBLE-array side (trained centroids): the same native
    * codegen'd expression as [[dot]] — FloatDotProduct accepts a double
    * side with exact float→double widening, so this is bit-identical to
    * both the old `aggregate(zip_with(...))` fold and DuckDB's
    * list_dot_product (sequential index-order double accumulation, null on
    * ragged/null-element inputs), without the per-(row, centroid)
    * intermediate array the composable form allocates.
    */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.FloatDotProduct(a, b)

  /** Stable cell id whose STRING order equals its numeric order. */
  def kmeansCellId(i: Int): String = f"c$i%04d"

  /** Deterministic distributed k-means (Lloyd, cosine assignment) for the
    * IVF coarse quantizer — replaces the trainless smallest-id stand-in
    * with a real trainer while keeping every output bit-for-bit
    * reproducible:
    *
    *  - **Assignment** is argmax cosine with (cos desc, cell asc) ties —
    *    same adaptive physical strategy as [[ivfAssign]] (literal model fold
    *    for small m, BroadcastHashJoin + bounded TopKByScore for large m).
    *  - **Update** uses FIXED-POINT accumulation: each dimension sums
    *    round(x·10⁶) as LONGS. Long addition is exact and commutative, so
    *    the distributed sum is partition-order independent — unlike a
    *    floating-point `avg`, whose value depends on reduction order and
    *    can differ run to run (and engine to engine). The centroid is then
    *    S/(n·10⁶) in one exact double division. This is what makes a
    *    TRAINED model reproducible enough for a DuckDB oracle to replay
    *    (sim_kmeans_assign) and for incremental re-training at 10¹² rows to
    *    be auditable.
    *  - Empty cells keep their previous centroid.
    *
    * Scale shape per iteration: one scan + the assignment stage (no shuffle
    * on the literal path; one broadcast join + partial-agg shuffle on the
    * large-m path) + one (cell, dim)-keyed partial-agg shuffle of m·dim
    * longs. The model (m·dim doubles) is the only driver-side state.
    *
    * @return (c_id, c_emb: array<double>, c_nrm) — feedable to assignment.
    */
  def kmeansCentroids(embs: DataFrame, m: Int, iters: Int,
                      literalMaxCentroids: Int = 128): DataFrame =
    kmeansCentroidsNormed(withNorm(embs).localCheckpoint(), m, iters,
      literalMaxCentroids)

  /** Trainer body over an ALREADY-materialized normed frame — callers that
    * also need the frame downstream (ivfTopKTrained, kmeansAssignment) pass
    * theirs in, so the corpus is checkpointed once per query, not once per
    * stage.
    */
  private def kmeansCentroidsNormed(e: DataFrame, m: Int, iters: Int,
                                    literalMaxCentroids: Int): DataFrame = {
    val spark = e.sparkSession
    var cents: Array[(String, Array[Double])] =
      e.orderBy(col("vec_id")).limit(m)
        .select(col("embedding")).collect().zipWithIndex
        .map { case (r, i) => (kmeansCellId(i), r.getSeq[Float](0).map(_.toDouble).toArray) }
    require(cents.nonEmpty, "k-means training needs a non-empty embeddings input")

    for (_ <- 0 until iters) {
      val assigned = kmeansAssign(e, cents, literalMaxCentroids)
      // fixed-point per-dimension sums: exact, commutative, order-free
      val sums = assigned
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("col").cast("double") * 1000000.0).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"),
          (col("s").cast("double") / (col("n").cast("double") * 1000000.0)).as("v")))).as("dims"))
        .select(col("cell"), transform(col("dims"), d => d.getField("v")).as("c_emb"))
        .collect()
        .map(r => (r.getString(0), r.getSeq[Double](1).toArray)).toMap
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }

    import spark.implicits._
    cents.toSeq.map { case (cid, v) =>
      (cid, v.toSeq, math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x)))
    }.toDF("c_id", "c_emb", "c_nrm")
  }

  /** `nProbe`-nearest-centroid (cosine) assignment against a collected
    * double-array model: literal fold for small m, BroadcastHashJoin +
    * TopKByScore(nProbe) for large m (same plan discipline as
    * [[ivfAssign]]). Input must carry (vec_id, embedding, nrm); output one
    * row per (vec, probed cell): (vec_id, embedding, cell).
    */
  private def kmeansAssign(e: DataFrame, cents: Array[(String, Array[Double])],
                           literalMaxCentroids: Int, nProbe: Int = 1): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    assignCells(e, cents.length,
      cents.toIndexedSeq.map { case (cid, v) =>
        val nrm = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
        struct(lit(cid).as("cell"), typedlit(v.toSeq).as("c_emb"), lit(nrm).as("c_nrm"))
      },
      cents.toSeq.map { case (cid, v) =>
        (cid, v.toSeq, math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x)))
      }.toDF("c_id", "c_emb", "c_nrm"),
      dotD, nProbe, literalMaxCentroids, keep = Seq("vec_id", "embedding"))
  }

  /** Final k-means cell assignment (vec_id → cell) after training. */
  def kmeansAssignment(embs: DataFrame, m: Int, iters: Int,
                       literalMaxCentroids: Int = 128): DataFrame = {
    val e = withNorm(embs).localCheckpoint()
    val cents = kmeansCentroidsNormed(e, m, iters, literalMaxCentroids).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    kmeansAssign(e, cents, literalMaxCentroids)
      .select(col("vec_id"), col("cell"))
  }

  /** IVF top-k over a k-means-TRAINED coarse quantizer, end to end: train
    * (fixed-point Lloyd), index candidates under their nearest trained
    * cell, probe queries' `nProbe` nearest cells, rank cell-equi-join pairs
    * by exact cosine. Same plan shape as [[ivfTopK]] — the only change is
    * the model quality — and still bit-for-bit oracle-replayable because
    * the trained model itself is deterministic.
    */
  def ivfTopKTrained(embs: DataFrame, m: Int, iters: Int, nProbe: Int, k: Int,
                     literalMaxCentroids: Int = 128): DataFrame = {
    // one materialization, all stages; spread, because without it the
    // whole op ran 1.33x slower on a single-row-group input (sf0.1
    // embeddings, 4 cores)
    val e = withNorm(graft.spark.Parallelism.spread(embs)).localCheckpoint()
    val cents = kmeansCentroidsNormed(e, m, iters, literalMaxCentroids).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    rankCellPairs(
      kmeansAssign(e, cents, literalMaxCentroids, nProbe).select(col("vec_id"), col("cell")),
      kmeansAssign(e, cents, literalMaxCentroids, 1).select(col("vec_id"), col("cell")),
      e, k)
  }

  /** Two-level IVF approximate top-k — the design for cell counts PAST the
    * broadcast ceiling (SURVEY §4.4: 10⁶ flat cells × 768 dims ≈ 6 GB of
    * centroids, too big to broadcast or literal-fold). The quantizer
    * factorizes into m1 × m2 cells with a model shape that scales:
    *
    *  - **level 1** (m1 ≈ 10³ coarse cells): a bounded MODEL — the same
    *    adaptive [[ivfAssign]] machinery (literal fold ≤ literalMax,
    *    BroadcastHashJoin + bounded TopKByScore beyond). Only this level
    *    is ever driver/broadcast state.
    *  - **level 2** (m2 sub-cells PER coarse cell): a DATA-sized table
    *    (coarse, sub_id, emb), never collected and never broadcast —
    *    vectors reach their coarse cell's sub-quantizer through a plain
    *    co-partitioned equi-join on `coarse`, and per-vector top-nProbe2
    *    runs through the bounded TopKByScore aggregate (O(nProbe2) reducer
    *    memory, map-side partials). At 10¹² vectors the sub-quantizer is
    *    just another shuffled table keyed by coarse cell.
    *
    * Both levels stay deterministic and trainless (centroids = smallest-id
    * members — level 1 globally, level 2 within each coarse cell), so the
    * whole index build + probe + rank chain is bit-for-bit replayable by
    * the DuckDB oracle (sim_ivf_twolevel); swap in [[kmeansCentroids]] per
    * level at deployment without changing any plan shape.
    *
    * Candidates are indexed under their single nearest (coarse, sub) cell;
    * queries probe nProbe1 coarse × nProbe2 sub cells; pairs meet at most
    * once (probe cells are distinct, each candidate lives in ONE cell), so
    * no dedup shuffle — exactly [[ivfTopK]]'s tail, ranked by exact cosine.
    */
  def ivfTwoLevelTopK(embs: DataFrame, m1: Int, m2: Int, nProbe1: Int,
                      nProbe2: Int, k: Int,
                      literalMaxCentroids: Int = 128): DataFrame = {
    val e = withNorm(embs).localCheckpoint() // one materialization, all stages
    val cents1 = centroidsFromNormed(e, m1)
    val c1 = cents1.collect() // level-1 model only — m1 rows, never level 2
    def coarseAssign(nP: Int): DataFrame =
      assignPrepared(e, c1, cents1, nP, literalMaxCentroids)
        .withColumnRenamed("cell", "coarse")

    twoLevelTail(e, coarseAssign(1), coarseAssign(nProbe1), m2, nProbe2, k)
  }

  /** Two-level IVF over a trained coarse quantizer: level 1 is the
    * deterministic fixed-point k-means model ([[kmeansCentroids]] — the
    * bounded broadcast/literal state), level 2 the same data-sized
    * per-cell sub-quantizer as [[ivfTwoLevelTopK]] (each trained coarse
    * cell's m2 smallest-id members, reached by equi-join — never
    * collected). The whole chain stays bit-for-bit oracle-replayable
    * (sim_ivf_twolevel_kmeans) because both levels are deterministic.
    */
  def ivfTwoLevelTopKTrained(embs: DataFrame, m1: Int, iters: Int, m2: Int,
                             nProbe1: Int, nProbe2: Int, k: Int,
                             literalMaxCentroids: Int = 128): DataFrame = {
    val e = withNorm(embs).localCheckpoint() // one materialization, all stages
    val cents = kmeansCentroidsNormed(e, m1, iters, literalMaxCentroids).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def coarse(nP: Int): DataFrame =
      kmeansAssign(e, cents, literalMaxCentroids, nP)
        .select(col("vec_id"), col("cell").as("coarse"))
    twoLevelTail(e, coarse(1), coarse(nProbe1), m2, nProbe2, k)
  }

  /** Shared level-2 machinery: build per-coarse-cell sub-centroids from the
    * home assignment, assign candidates (1 sub-cell) and queries (nProbe2
    * sub-cells per probed coarse cell) via a co-partitioned equi-join on
    * `coarse` + the bounded TopKByScore aggregate, then rank cell-mates by
    * exact cosine. `homeCoarse`/`queryCoarse` carry (vec_id, coarse).
    */
  private def twoLevelTail(e: DataFrame, homeCoarse: DataFrame,
                           queryCoarse: DataFrame, m2: Int, nProbe2: Int,
                           k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // home coarse cell feeds BOTH the sub-quantizer build and the candidate
    // index — materialize once
    val home1 = homeCoarse.localCheckpoint()
    // level-2 sub-centroids: each coarse cell's m2 smallest-id members
    // (m1·m2 rows total — data, not model; reused by both assignment calls)
    val subCents = home1.join(e, "vec_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("coarse")).orderBy(col("vec_id"))))
      .filter(col("rn") <= m2)
      .select(col("coarse"), col("vec_id").cast("string").as("sub_id"),
        col("embedding").as("s_emb"), col("nrm").as("s_nrm"))
      .localCheckpoint()

    // nProbe2 nearest sub-cells within each probed coarse cell: equi-join
    // on coarse + bounded top-k — the level-2 model is never broadcast
    def subAssign(probes: DataFrame, nP2: Int): DataFrame =
      probes.join(e, "vec_id")
        .join(subCents, "coarse")
        .select(col("vec_id"), col("coarse"),
          safeCos(dot(col("embedding"), col("s_emb")),
            col("nrm") * col("s_nrm")).as("scos"),
          col("sub_id"))
        .groupBy(col("vec_id"), col("coarse"))
        .agg(graft.functions.TopKByScore(col("scos"), col("sub_id"), nP2).as("top"))
        .select(col("vec_id"), col("coarse"), explode(col("top")).as("p"))
        .select(col("vec_id"),
          concat(col("coarse"), lit("|"), col("p.payload")).as("cell"))

    rankCellPairs(subAssign(queryCoarse, nProbe2), subAssign(home1, 1), e, k)
  }

  /** Embedding-cosine near-duplicate DEDUP decision: LSH candidate pairs →
    * exact-cosine verify ≥ threshold → connected components over the
    * verified pairs (transitive duplicates merge) → each group keeps its
    * least vec_id. Returns (vec_id, keep_id) for every vector that belongs
    * to some near-dup group; rows with vec_id != keep_id are the drop list.
    * Node ids are compared as strings (CC's label domain), both here and in
    * the oracle.
    */
  def nearDupGroups(embs: DataFrame, nBits: Int, nTables: Int,
                    threshold: Double): DataFrame = {
    // the LSH pair pipeline scans its input three times (bucket candidates
    // + both exact-verify join sides); callers often pass a CONSTRUCTED
    // corpus (planted perturbations, featurized media) whose projection is
    // expensive — materialize it once up front
    val pairs = lshBucketedPairs(embs.localCheckpoint(), nBits, nTables, threshold)
    val edges = pairs.select(col("vec_a").cast("string").as("src"),
      col("vec_b").cast("string").as("dst"))
    graft.spark.ConnectedComponents.run(edges)
      .select(col("node").as("vec_id"), col("component").as("keep_id"))
  }

  /** LSH recall report vs the exact blocked path on a planted-near-dup
    * corpus: one row (n_exact, n_lsh, recall). LSH output is a subset of
    * the exact output by construction (same threshold, same cosine), so
    * the count ratio IS recall.
    */
  def lshRecall(embs: DataFrame, nBits: Int, nTables: Int, threshold: Double,
                eps: Double = 0.05, seed: Int = 999983): DataFrame = {
    // materialize the planted corpus once: the per-dim LCG perturbation is
    // the most expensive projection here, and without a checkpoint BOTH
    // branches (and both replicated sides of the exact blocked self-join)
    // recompute it from scratch
    val corpus = embs.select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
      .unionByName(perturbed(embs, eps, seed, "_p"))
      .localCheckpoint()
    val exact = cosinePairs(corpus, threshold)
      .agg(count(lit(1)).as("n_exact"))
    val lsh = lshBucketedPairs(corpus, nBits, nTables, threshold)
      .agg(count(lit(1)).as("n_lsh"))
    exact.crossJoin(lsh)
      .select(col("n_exact"), col("n_lsh"),
        round(col("n_lsh").cast("double") / col("n_exact"), 4).as("recall"))
  }
}
