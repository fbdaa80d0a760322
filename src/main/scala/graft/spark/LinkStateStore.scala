package graft.spark

import graft.model.Triple
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned persistence for a STANDING entity-link state — the
  * `(node, component)` labels over the mention↔key graph that
  * [[EntityLink.mentionLinkState]] builds and
  * [[EntityLink.mentionLinkStateIncremental]] maintains batch over batch.
  * Shared by the streaming maintainer
  * ([[graft.streaming.StreamingExtract.linkStateStream]]) and the batch
  * crawl driver ([[graft.IncrementalMain]]), so the two deployment shapes
  * cannot drift in on-disk format.
  *
  * Commit protocol (all through the [[TableIO]] seam, so hdfs://-/s3a://-
  * rooted stores work under spark-submit and an Iceberg binding swaps in
  * snapshots):
  *
  *  1. write the NEW state as its own version table `v<version>` —
  *     never in place;
  *  2. atomically flip the `_link_state_latest` pointer
  *     ([[TableIO.writeMetadata]] is write-then-rename);
  *  3. best-effort drop versions older than the retained window
  *     (`RetainVersions`). Retention enumerates version TABLES
  *     through [[TableIO.listMetadata]], which is exact for the
  *     path-addressed parquet binding (tables and metadata share the
  *     directory namespace); an Iceberg binding whose tables live in a
  *     catalog instead must implement listMetadata to enumerate them (or
  *     let snapshot expiry own retention and return only true sidecars) —
  *     otherwise retention is a silent no-op and versions accumulate.
  *
  * A replayed fold (Structured Streaming's foreachBatch is at-least-once; a
  * crashed nightly driver reruns) is idempotent end-to-end: re-folding an
  * already-folded batch cannot change the labels (component union is
  * idempotent, and [[EntityLink]]'s blocking edges are a pure function of
  * the batch), the version table it rewrites carries identical rows, and
  * the pointer flip rewrites the same value.
  *
  * Scale shape: each fold costs O(|batch|) through
  * [[ConnectedComponents.incremental]]'s quotient construction, plus one
  * full write of the label table. The label table is one row per mention
  * node and per key node — corpus-linear but narrow (two strings); at
  * 10¹²-turn scale deployments shard it by `pmod(hash(node))` range and an
  * Iceberg binding replaces the full rewrite with a MERGE of the
  * delta-sized label moves (the pointer/version machinery here is exactly
  * the manual form of its snapshot commit).
  */
object LinkStateStore {

  private val Pointer = "_link_state_latest"

  /** The schema every version table is written with; reading with it opens
    * a version without a schema-inference job.
    */
  private val StateSchema = StructType.fromDDL("node STRING, component STRING")

  /** Versions a commit keeps: the new state plus one for readers that
    * resolved the pointer just before the flip.
    */
  private val RetainVersions = 2

  private def read(spark: SparkSession, table: String): DataFrame =
    TableIO.default.read(spark, table, Some(StateSchema))

  /** Name of the currently committed version, if any. */
  def latestVersion(spark: SparkSession, stateDir: String): Option[String] =
    TableIO.default.readMetadata(spark, stateDir, Pointer).map(_.trim).filter(_.nonEmpty)

  /** The committed standing state, if any — `(node, component)`. */
  def load(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestVersion(spark, stateDir).map(v => read(spark, s"$stateDir/$v"))

  /** The committed `(subj, canonical)` mapping, if any — what
    * [[EntityLink.rewriteWithMapping]] consumes.
    */
  def loadMapping(spark: SparkSession, stateDir: String): Option[DataFrame] =
    load(spark, stateDir).map(EntityLink.mappingFromState)

  /** Fold one batch of mention triples into the standing state (empty
    * before the first commit) and commit the result as version
    * `v<version>`. Returns the new state. Versions must be monotone across
    * folds (a batch id, a date stamp) — retention sorts lexicographically,
    * so zero-pad numeric versions at the caller if they can pass 10 digits.
    */
  def fold(batch: org.apache.spark.sql.Dataset[Triple], stateDir: String,
           version: Long, keyPredicates: Seq[String],
           maxKeyDegree: Int = 100000): DataFrame = {
    val spark = batch.sparkSession
    val state = load(spark, stateDir)
      .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), StateSchema))
    save(EntityLink.mentionLinkStateIncremental(state, batch, keyPredicates, maxKeyDegree),
      stateDir, version)
  }

  /** Commit an externally-built state as version `v<version>` (the write +
    * pointer-flip + retention half of [[fold]]; also the root-migration
    * path of [[IncrementalGraph.compactRoot]]).
    */
  def save(state: DataFrame, stateDir: String, version: Long): DataFrame = {
    val spark = state.sparkSession
    val io = TableIO.default
    val name = f"v$version%016d"
    // replay no-op: a version the pointer ALREADY references was fully
    // committed (the pointer flips only after a complete write), and folds
    // are idempotent, so the recomputed state is identical — rewriting the
    // table in place (SaveMode.Overwrite = delete-then-write) would yank
    // live files from under concurrent readers and, on a crash mid-rewrite,
    // leave the committed pointer on a half-written table. Skip the write.
    if (latestVersion(spark, stateDir).contains(name)) return read(spark, s"$stateDir/$name")
    io.write(state, s"$stateDir/$name", Nil)
    io.writeMetadata(spark, stateDir, Pointer, name + "\n")
    // retention AFTER the flip: the dropped versions are unreachable from
    // the pointer; keep >1 so a reader that resolved the pointer moments
    // before the flip finishes its scan. NEVER drop the just-committed
    // version: a non-monotone version (an operator restarting a stream
    // with a fresh checkpoint resets batch ids to 0) sorts below standing
    // names and lexicographic retention would otherwise delete the very
    // table the pointer now references.
    io.listMetadata(spark, stateDir, "v").sorted.dropRight(RetainVersions)
      .filter(_ != name)
      .foreach(old => io.dropTable(spark, s"$stateDir/$old"))
    read(spark, s"$stateDir/$name")
  }
}
