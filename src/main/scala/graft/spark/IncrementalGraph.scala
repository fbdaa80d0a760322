package graft.spark

import graft.model.Triple
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  * the closure's delta cone, plus one identity anti-join per standing
  * artifact ([[appendNovel]]). The anti-join scans every standing row: a
  * fold's delta carries the standing graph's predicates, so a slice of the
  * delta's pred buckets would keep nearly all of them. Nothing recomputes
  * from scratch.
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
    * then the `batch_id` and [[GraphLayout.BucketColumn]] partition
    * columns. Recorded in
    * the layout ([[GraphLayout]]) by every batch-layout writer, so readers
    * open the dir without an inference job; `batch_id` is the LONG the
    * writers store (inference would narrow it to int when it fits).
    */
  private[graft] val BatchSchema: StructType = StructType(
    org.apache.spark.sql.Encoders.product[Triple].schema.fields.map(_.copy(nullable = true)) ++
      Seq(StructField("batch_id", LongType), StructField(GraphLayout.BucketColumn, IntegerType)))

  /** Fold one delta batch into the standing root. `delta` should be the
    * extracted (set-semantics) triples of the new transcripts — see
    * [[graft.IncrementalMain]] for the CLI wiring.
    */
  def foldBatch(delta: Dataset[Triple], root: String, predBuckets: Int = GraphLayout.DefaultBuckets,
                linkKeys: Seq[String] = Nil, entail: Boolean = false,
                maxKeyDegree: Int = 100000): CrawlSummary = {
    val spark = delta.sparkSession
    val d = delta.dropDuplicates(Triple.identityCols).localCheckpoint()
    val batchId = nextBatchId(spark, s"$root/graph")
    val newTriples = appendNovel(spark, d, s"$root/graph", predBuckets, batchId)

    val linkNodes =
      if (linkKeys.isEmpty) -1L
      else LinkStateStore.fold(d, s"$root/link_state", batchId, linkKeys, maxKeyDegree).count()

    val closureNew =
      if (!entail) -1L
      else {
        val dir = s"$root/closure"
        appendNovel(spark, closureWith(d, dir), dir, predBuckets, batchId)
      }

    // per-batch crawl mark: observability + lineage (which batch landed how
    // much), atomic via the metadata seam
    TableIO.default.writeMetadata(spark, s"$root/graph", s"$CrawlPrefix$batchId",
      s"""{"batch_id": $batchId, "new_triples": $newTriples, "new_closure_triples": $closureNew, "link_state_nodes": $linkNodes}""" + "\n")
    CrawlSummary(batchId, newTriples, closureNew, linkNodes)
  }

  /** The rows of a batch-layout dir, partition columns included, read with
    * [[BatchSchema]] (so opening it starts no job); None when the dir has
    * no layout — absent, or not written by a batch-layout writer.
    */
  private def batches(spark: SparkSession, dir: String): Option[DataFrame] =
    if (GraphLayout.exists(spark, dir)) Some(TableIO.default.read(spark, dir, Some(BatchSchema)))
    else None

  /** The standing triples of a batch-layout dir: empty when it has no
    * layout, or when its every batch was empty — a first batch folds
    * against empty artifacts.
    */
  private def standing(spark: SparkSession, dir: String): Dataset[Triple] = {
    import spark.implicits._
    batches(spark, dir).fold(spark.emptyDataset[Triple])(_
      .select(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"),
        col("obj_datatype"), col("obj_lang"), col("conv_id"), col("turn_idx"))
      .as[Triple])
  }

  /** The standing closure of `dir` with `delta` folded in: the standing
    * rows plus the delta's cone, materialized by the entailment engine.
    * [[appendNovel]] keeps the rows the dir lacks. Shared by [[foldBatch]]
    * and the streaming maintainer
    * ([[graft.streaming.StreamingExtract.closureStream]]).
    */
  private[graft] def closureWith(delta: Dataset[Triple], dir: String): Dataset[Triple] =
    Entailment.owlEntailIncremental(standing(delta.sparkSession, dir), delta)

  /** The id the next append to a batch-layout dir writes under: past every
    * crawl mark of `dir` and past every `batch_id` its rows hold.
    *
    * Both halves are needed. The marks: an empty fold materializes no
    * batch_id partition, yet commits a link-state version and a crawl mark
    * under its id; an id from the data alone would REUSE it on the next
    * genuine fold, and LinkStateStore.save would then rewrite the LIVE
    * pointed-to version table in place (torn reads; a crash mid-rewrite
    * leaves the pointer on a corrupt table). The data: a fold that crashed
    * after its rows and link state committed but before its mark leaves no
    * mark; an id from the marks alone would reuse it, overwrite that
    * batch's partitions and skip the rerun's link-state commit as a replay.
    * The data max also covers dirs without marks (a compacted root, a
    * closureStream dir).
    */
  private[graft] def nextBatchId(spark: SparkSession, dir: String): Long = {
    val markFloor = TableIO.default.listMetadata(spark, dir, CrawlPrefix)
      .flatMap(n => scala.util.Try(n.stripPrefix("batch-").toLong).toOption)
      .foldLeft(0L)((acc, id) => math.max(acc, id + 1L))
    // coalesce: a dir whose batches were all empty has no max
    val dataFloor = batches(spark, dir).fold(0L)(
      _.agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0) + 1L)
    math.max(markFloor, dataFloor)
  }

  /** Append the rows of `rows` that `dir` does not hold yet under the
    * `batch_id` partition `batchId` ([[nextBatchId]]); returns the rows
    * written. This is where a batch-layout dir decides which rows are new:
    * one null-safe identity anti-join against every standing row.
    */
  private[graft] def appendNovel(spark: SparkSession, rows: Dataset[Triple], dir: String,
                                 predBuckets: Int, batchId: Long): Long = {
    val st = standing(spark, dir)
    val buckets = layoutBuckets(spark, dir, predBuckets)
    val novel = rows.as("r").join(st.as("s"), Triple.identityCond("r", "s"), "left_anti")
    writeBatch(novel, dir, batchId, buckets)
  }

  /** The one batch-layout writer: `rows` into `dir` as batch `batchId`,
    * each under its [[GraphLayout.bucket]] of `buckets` (dynamic partition
    * overwrite); returns the rows written.
    */
  private[graft] def writeBatch(rows: Dataset[_], dir: String, batchId: Long, buckets: Int): Long =
    ExtractPipeline.writeCounted(
      rows.withColumn("batch_id", lit(batchId))
        .withColumn(GraphLayout.BucketColumn, GraphLayout.bucket(col("pred"), buckets)),
      TableIO.default.overwritePartitions(_, dir, Seq("batch_id", GraphLayout.BucketColumn)))

  private[graft] def bucketCount(spark: SparkSession, dir: String): Option[Int] =
    GraphLayout.read(spark, dir).map(_.predBuckets).filter(_ > 0)

  /** The pred-bucket count a batch-layout dir records; a dir without one
    * first gets a layout recording `predBuckets` and [[BatchSchema]]. A
    * dir that carries a layout describes itself: a caller-supplied count
    * that disagrees would corrupt pruning for every reader.
    */
  private[graft] def layoutBuckets(spark: SparkSession, dir: String, predBuckets: Int): Int =
    bucketCount(spark, dir).getOrElse {
      GraphLayout.write(spark, dir, GraphLayout(predBuckets, schema = Some(BatchSchema)))
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
  def compact(spark: SparkSession, srcDir: String, destDir: String): Long = {
    val buckets = bucketCount(spark, srcDir).getOrElse(GraphLayout.DefaultBuckets)
    val rows = writeBatch(standing(spark, srcDir).dropDuplicates(Triple.identityCols),
      destDir, 0L, buckets)
    GraphLayout.write(spark, destDir, GraphLayout(buckets, schema = Some(BatchSchema)))
    rows
  }

  /** [[compact]] a whole standing root side-by-side: graph (always),
    * closure (when maintained), and the CURRENT link-state version
    * (re-committed as the destination's v0 — older versions are history,
    * not state). Returns (graph rows, closure rows or -1, state nodes
    * or -1). The source root stays untouched; swapping roots is the
    * storage layer's atomic operation.
    */
  def compactRoot(spark: SparkSession, srcRoot: String, destRoot: String): (Long, Long, Long) = {
    val g = compact(spark, s"$srcRoot/graph", s"$destRoot/graph")
    val c =
      if (GraphLayout.exists(spark, s"$srcRoot/closure"))
        compact(spark, s"$srcRoot/closure", s"$destRoot/closure")
      else -1L
    val l = LinkStateStore.load(spark, s"$srcRoot/link_state")
      .map(st => LinkStateStore.save(st, s"$destRoot/link_state", 0L).count())
      .getOrElse(-1L)
    (g, c, l)
  }

  /** Open the standing RAW graph for querying ([[GraphQuery.loadGraph]]
    * semantics: pruning and schema from the layout metadata, stats by
    * one-pass scan).
    */
  def readGraph(spark: SparkSession, root: String): GraphQuery.PersistedGraph =
    GraphQuery.loadGraph(spark, s"$root/graph")

  /** The CANONICAL view of the standing graph: raw triples rewritten
    * through the standing link state's current mapping (the read-time
    * canonicalization the RAW storage decision above requires). Falls back
    * to the raw triples when no link state exists.
    * @throws IllegalArgumentException when `root` holds no standing graph
    *         (a mistyped or non-crawl root must not read as an empty graph)
    */
  def readCanonical(spark: SparkSession, root: String): Dataset[Triple] = {
    require(GraphLayout.exists(spark, s"$root/graph"), s"no crawl root graph under $root")
    val raw = standing(spark, s"$root/graph")
    LinkStateStore.loadMapping(spark, s"$root/link_state") match {
      case Some(mapping) => EntityLink.rewriteWithMapping(raw, mapping.localCheckpoint())
      case None => raw
    }
  }

  /** The standing closure opened for querying (when maintained). */
  def readClosure(spark: SparkSession, root: String): GraphQuery.PersistedGraph =
    GraphQuery.loadGraph(spark, s"$root/closure")
}
