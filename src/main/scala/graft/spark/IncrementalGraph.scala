package graft.spark

import graft.model.Triple
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The NIGHTLY-CRAWL composition: fold one delta batch of extracted triples
  * into a standing graph root, maintaining every standing artifact
  * incrementally — the deployment shape the four incremental operators
  * ([[ExtractPipeline.graphDiff]]-style novelty append,
  * [[EntityLink.mentionLinkStateIncremental]],
  * [[Entailment.owlEntailIncremental]]) exist for. Driven from spark-submit
  * by [[graft.IncrementalMain]].
  *
  * Standing layout under `root` (all through the [[TableIO]] seam):
  *
  *  - `graph/` — RAW triples under `batch_id=<id>/pred_bucket=<m>`
  *    partitions (the [[graft.streaming.StreamingExtract.sinkToGraph]]
  *    layout, so [[GraphQuery.loadGraph]] opens it with pruning intact).
  *    RAW, not entity-canonalized: skolem ids are content-addressed and
  *    never change, so appended rows are immutable — a later merge can
  *    change an entity's CANONICAL id, which must therefore be applied as
  *    a read-time view ([[readCanonical]]), never baked into stored rows
  *    (baked rows would need corpus-wide rewrites on every merge).
  *  - `link_state/` — the standing `(node, component)` linking state,
  *    versioned by [[LinkStateStore]] (when link keys are configured).
  *  - `closure/` — the graph's entailment closure in the same batch
  *    layout, appended novel-rows-only via
  *    [[Entailment.owlEntailIncremental]] (when enabled).
  *
  * Per-batch cost: extraction of the delta, the delta-sized quotient CC,
  * the closure's delta cone, plus identity anti-joins of the delta against
  * the pred_bucket-PRUNED standing slice (only partitions whose bucket
  * appears in the delta are read). Nothing recomputes from scratch.
  *
  * Crash-rerun is idempotent WITHOUT a manifest: triples are
  * content-addressed, so a rerun's novelty anti-join skips whatever a
  * half-written batch already landed and appends only the remainder under
  * its own fresh batch_id — set semantics hold, nothing duplicates,
  * nothing is lost. (The link-state fold is idempotent inside
  * [[LinkStateStore]].)
  */
object IncrementalGraph {

  final case class CrawlSummary(batchId: Long, newTriples: Long,
                                newClosureTriples: Long, linkStateNodes: Long)

  private val CrawlPrefix = "_graft_crawl/batch-"

  /** The schema a batch-layout dir reads back with: the triple columns,
    * then the `batch_id` and `pred_bucket` partition columns. Recorded in
    * the layout ([[GraphLayout]]) by every batch-layout writer, so readers
    * open the dir without an inference job; `batch_id` is the LONG the
    * writers store (inference would narrow it to int when it fits).
    */
  private[graft] val BatchSchema: StructType = StructType(
    org.apache.spark.sql.Encoders.product[Triple].schema.fields.map(_.copy(nullable = true)) ++
      Seq(StructField("batch_id", LongType), StructField("pred_bucket", IntegerType)))

  /** Fold one delta batch into the standing root. `delta` should be the
    * extracted (set-semantics) triples of the new transcripts — see
    * [[graft.IncrementalMain]] for the CLI wiring.
    */
  def foldBatch(delta: Dataset[Triple], root: String, predBuckets: Int = 16,
                linkKeys: Seq[String] = Nil, entail: Boolean = false,
                maxKeyDegree: Int = 100000,
                io: TableIO = TableIO.default): CrawlSummary = {
    val spark = delta.sparkSession
    val d = delta.dropDuplicates(Triple.identityCols).localCheckpoint()

    // Batch ids must be MONOTONE over ALL folds, including zero-novelty
    // reruns: an empty fold materializes no batch_id partition (so
    // max(batch_id) in the data is unchanged) yet still commits a
    // link-state version and a crawl mark under its id. Deriving the next
    // id from data alone would REUSE that id on the next genuine fold, and
    // LinkStateStore.save would then rewrite the LIVE pointed-to version
    // table in place — torn reads for concurrent consumers, and a crash
    // mid-rewrite leaves the committed pointer on a corrupt table. The
    // crawl marks are written unconditionally, so their max rides over
    // empty folds; the data max still participates for dirs predating the
    // marks (and compacted roots, whose marks reset).
    val markFloor = io.listMetadata(spark, s"$root/graph", "_graft_crawl/batch-")
      .flatMap(n => scala.util.Try(n.stripPrefix("batch-").toLong).toOption)
      .foldLeft(0L)((acc, id) => math.max(acc, id + 1L))

    val (newTriples, batchId) =
      appendNovel(spark, d, s"$root/graph", predBuckets, io, minBatchId = markFloor)

    val linkNodes =
      if (linkKeys.isEmpty) -1L
      else LinkStateStore.fold(d, s"$root/link_state", batchId, linkKeys,
        maxKeyDegree, io).count()

    val closureNew =
      if (!entail) -1L
      else {
        val dir = s"$root/closure"
        appendNovel(spark, closureDelta(d, dir, io), dir, predBuckets, io,
          knownBatchId = batchId)._1
      }

    // per-batch crawl mark: observability + lineage (which batch landed how
    // much), atomic via the metadata seam
    io.writeMetadata(spark, s"$root/graph", s"$CrawlPrefix$batchId",
      s"""{"batch_id": $batchId, "new_triples": $newTriples, "new_closure_triples": $closureNew, "link_state_nodes": $linkNodes}""" + "\n")
    CrawlSummary(batchId, newTriples, closureNew, linkNodes)
  }

  /** The standing triples of a batch-layout dir, read with [[BatchSchema]]
    * (so opening it starts no job). A dir with no layout — absent, or not
    * written by a batch-layout writer — is empty, as is one whose every
    * batch was empty: a first batch folds against empty artifacts.
    */
  private def standing(spark: SparkSession, dir: String, io: TableIO): Dataset[Triple] = {
    import spark.implicits._
    if (!GraphLayout.exists(spark, dir, io)) spark.emptyDataset[Triple]
    else io.read(spark, dir, Some(BatchSchema))
      .select(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"),
        col("obj_datatype"), col("obj_lang"), col("conv_id"), col("turn_idx"))
      .as[Triple]
  }

  /** Compute the closure's NOVEL rows for one delta against a standing
    * closure dir — shared by [[foldBatch]] and the streaming maintainer
    * ([[graft.streaming.StreamingExtract.closureStream]]).
    */
  private[graft] def closureDelta(delta: Dataset[Triple], dir: String,
                                  io: TableIO): Dataset[Triple] = {
    val spark = delta.sparkSession
    import spark.implicits._
    // full new closure, then keep only rows the standing closure lacks —
    // the append stays delta-cone-sized. The standing side is a disk-backed
    // scan read by the incremental seed and the novelty anti-join:
    // re-scanning pruned parquet beats localCheckpoint's full
    // materialization of the closure per fold — the O(|closed|) cost this
    // operator exists to avoid.
    val closed = standing(spark, dir, io)
    Entailment.owlEntailIncremental(closed, delta).as("n")
      .join(closed.as("o"), Triple.identityCond("n", "o"), "left_anti").as[Triple]
      .localCheckpoint()
  }

  /** Append the delta's NOVEL rows (identity anti-join against the
    * pred_bucket-pruned standing slice) under the next batch_id partition.
    * Returns (rows written, batch id used). `minBatchId` lets the caller
    * raise the derived id past folds that wrote no data (see
    * [[foldBatch]]'s monotonicity note).
    */
  private[graft] def appendNovel(spark: SparkSession, delta: Dataset[Triple], dir: String,
                                 predBuckets: Int, io: TableIO,
                                 knownBatchId: Long = -1L,
                                 minBatchId: Long = 0L): (Long, Long) = {
    val st = standing(spark, dir, io)
    val buckets = layoutBuckets(spark, dir, io, predBuckets)
    val batchId =
      if (knownBatchId >= 0) knownBatchId
      // coalesce: a dir with no rows yet has no max
      else math.max(minBatchId, io.read(spark, dir, Some(BatchSchema))
        .agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0) + 1L)
    // prune the standing side to the delta's own pred buckets before the
    // identity anti-join: partitions whose bucket the delta never touches
    // are never read (bucket count is registry-bounded, so the collect is
    // catalog-sized)
    val deltaBuckets = delta
      .select(pmod(hash(col("pred")), lit(buckets)).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val slice = st.toDF().withColumn("pred_bucket", pmod(hash(col("pred")), lit(buckets)))
      .filter(col("pred_bucket").isin(deltaBuckets: _*))
    val novel = delta.as("d").join(slice.as("a"), Triple.identityCond("d", "a"), "left_anti")
    val written = ExtractPipeline.writeCounted(
      novel.withColumn("batch_id", lit(batchId))
        .withColumn("pred_bucket", pmod(hash(col("pred")), lit(buckets))),
      io.overwritePartitions(_, dir, Seq("batch_id", "pred_bucket")))
    (written, batchId)
  }

  private[graft] def bucketCount(spark: SparkSession, dir: String, io: TableIO): Option[Int] =
    GraphLayout.read(spark, dir, io).map(_.predBuckets).filter(_ > 0)

  /** The pred-bucket count a batch-layout dir records; a dir without one
    * first gets a layout recording `predBuckets` and [[BatchSchema]]. A
    * dir that carries a layout describes itself: a caller-supplied count
    * that disagrees would corrupt pruning for every reader.
    */
  private[graft] def layoutBuckets(spark: SparkSession, dir: String, io: TableIO,
                                   predBuckets: Int): Int =
    bucketCount(spark, dir, io).getOrElse {
      GraphLayout.write(spark, dir, io, GraphLayout(predBuckets, schema = Some(BatchSchema)))
      predBuckets
    }

  /** Compact a batch-layout dir (this object's `graph/`/`closure/`, or a
    * [[graft.streaming.StreamingExtract.sinkToGraph]] output): rewrite all
    * standing rows into `destDir` as ONE `batch_id=0` generation, restoring
    * O(pred_buckets) partition count after many folds/micro-batches. Writes
    * SIDE-BY-SIDE — the source dir is never touched, so a crashed
    * compaction costs nothing and the swap (mv, catalog repoint, Iceberg
    * REPLACE TABLE) stays an atomic operation of the deployment's storage
    * layer. Pred-bucket count carries over from the source layout; rows
    * re-deduplicate on identity (a sinkToGraph source can hold the same
    * statement under several batch partitions — set semantics at rest).
    */
  def compact(spark: SparkSession, srcDir: String, destDir: String,
              io: TableIO = TableIO.default): Long = {
    val buckets = bucketCount(spark, srcDir, io).getOrElse(16)
    val rows = ExtractPipeline.writeCounted(
      standing(spark, srcDir, io).dropDuplicates(Triple.identityCols)
        .withColumn("batch_id", lit(0L))
        .withColumn("pred_bucket", pmod(hash(col("pred")), lit(buckets))),
      io.overwritePartitions(_, destDir, Seq("batch_id", "pred_bucket")))
    GraphLayout.write(spark, destDir, io, GraphLayout(buckets, schema = Some(BatchSchema)))
    rows
  }

  /** [[compact]] a whole standing root side-by-side: graph (always),
    * closure (when maintained), and the CURRENT link-state version
    * (re-committed as the destination's v0 — older versions are history,
    * not state). Returns (graph rows, closure rows or -1, state nodes
    * or -1). The source root stays untouched; swapping roots is the
    * storage layer's atomic operation.
    */
  def compactRoot(spark: SparkSession, srcRoot: String, destRoot: String,
                  io: TableIO = TableIO.default): (Long, Long, Long) = {
    val g = compact(spark, s"$srcRoot/graph", s"$destRoot/graph", io)
    val c =
      if (GraphLayout.exists(spark, s"$srcRoot/closure", io))
        compact(spark, s"$srcRoot/closure", s"$destRoot/closure", io)
      else -1L
    val l = LinkStateStore.load(spark, s"$srcRoot/link_state", io)
      .map(st => LinkStateStore.save(st, s"$destRoot/link_state", 0L, io).count())
      .getOrElse(-1L)
    (g, c, l)
  }

  /** Open the standing RAW graph for querying ([[GraphQuery.loadGraph]]
    * semantics: pruning and schema from the layout metadata, stats by
    * one-pass scan).
    */
  def readGraph(spark: SparkSession, root: String,
                io: TableIO = TableIO.default): GraphQuery.PersistedGraph =
    GraphQuery.loadGraph(spark, s"$root/graph", io)

  /** The CANONICAL view of the standing graph: raw triples rewritten
    * through the standing link state's current mapping (the read-time
    * canonicalization the RAW storage decision above requires). Falls back
    * to the raw triples when no link state exists.
    * @throws IllegalArgumentException when `root` holds no standing graph
    *         (a mistyped or non-crawl root must not read as an empty graph)
    */
  def readCanonical(spark: SparkSession, root: String,
                    io: TableIO = TableIO.default): Dataset[Triple] = {
    require(GraphLayout.exists(spark, s"$root/graph", io), s"no crawl root graph under $root")
    val raw = standing(spark, s"$root/graph", io)
    LinkStateStore.loadMapping(spark, s"$root/link_state", io) match {
      case Some(mapping) => EntityLink.rewriteWithMapping(raw, mapping.localCheckpoint())
      case None => raw
    }
  }

  /** The standing closure opened for querying (when maintained). */
  def readClosure(spark: SparkSession, root: String,
                  io: TableIO = TableIO.default): GraphQuery.PersistedGraph =
    GraphQuery.loadGraph(spark, s"$root/closure", io)
}
