package graft.spark

import graft.core.RegistryIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed, resumable graph materialization (north rule: "resumable
  * from checkpoint with per-partition lineage + metrics").
  *
  * The unit of progress is a conv_id hash bucket. A run extracts and writes
  * only buckets missing from the manifest, as `bucket=N` parquet partitions,
  * then commits those bucket ids to the manifest. Because skolem IDs are
  * content-addressed (Extractor.skolem), re-extracting a bucket after a
  * crash produces byte-identical triples, so dynamic partition overwrite of
  * an incomplete bucket is safe and idempotent — resume never duplicates
  * and never loses rows.
  *
  * The manifest lives WITH the table (`_graft_manifest/bucket-N` marks) and
  * is accessed through the [[TableIO]] metadata seam — the parquet binding
  * goes through the output path's own Hadoop FileSystem, so an
  * `--output hdfs://…` or `s3a://…` run under spark-submit tracks progress
  * on the SAME storage as the data (a driver-local manifest would claim
  * completion for buckets another driver never wrote). An Iceberg binding
  * replaces the marks with snapshot metadata.
  */
object Resume {

  final case class Summary(writtenBuckets: Seq[Int], skippedBuckets: Seq[Int], rowsWritten: Long)

  private val ManifestPrefix = "_graft_manifest/bucket-"

  def completedBuckets(spark: SparkSession, outDir: String,
                       io: TableIO = TableIO.default): Set[Int] =
    io.listMetadata(spark, outDir, ManifestPrefix)
      .map(_.stripPrefix("bucket-").toInt).toSet

  private def commitBuckets(spark: SparkSession, outDir: String,
                            buckets: Iterable[Int], io: TableIO): Unit =
    buckets.foreach(b =>
      io.writeMetadata(spark, outDir, s"_graft_manifest/bucket-$b", "done\n"))

  /** Extract + write all buckets not yet committed. Call again after a crash
    * (or with new data in the same buckets — buckets are all-or-nothing).
    *
    * @param basePrefix   forwarded to extraction (per-turn base URIs) — the
    *                     CLI's --base-prefix applies on THIS path too
    * @param errorCounter forwarded to extraction so --validate sees soft
    *                     errors from the bucketed writes
    * @param transform    per-bucket-batch triple transform applied before
    *                     writing; MUST be deterministic (so a crashed
    *                     bucket rewrites idempotently) and ROW-LOCAL —
    *                     every output row must keep its source row's
    *                     conv_id, because that is the resume bucket. A
    *                     cross-row transform (e.g. an entailment closure,
    *                     whose derived rows carry null lineage) is both
    *                     unattributable to a bucket AND semantically wrong
    *                     under partial resume (a later run would close
    *                     over only the missing buckets' rows); the write
    *                     fails fast on the first row whose conv_id is null
    *                     or hashes outside the pending buckets — run
    *                     such transforms over the COMPLETED table instead
    *                     (the ExtractMain --entail persist pattern).
    */
  def writeWithResume(transcripts: DataFrame, outDir: String, nBuckets: Int = 64,
                      registry: RegistryIndex = ExtractPipeline.defaultRegistry,
                      io: TableIO = TableIO.default,
                      basePrefix: String = null,
                      errorCounter: org.apache.spark.util.LongAccumulator = null,
                      transform: org.apache.spark.sql.Dataset[graft.model.Triple] =>
                        org.apache.spark.sql.Dataset[graft.model.Triple] = identity,
                      uriOptions: graft.core.UriOptions = graft.core.UriOptions.default): Summary = {
    val spark = transcripts.sparkSession
    val done = completedBuckets(spark, outDir, io)
    val all = 0 until nBuckets
    val todo = all.filterNot(done)
    if (todo.isEmpty) return Summary(Nil, all, 0L)

    val bucket = pmod(crc32(col("conv_id")), lit(nBuckets))
    val bucketed = transcripts.withColumn("bucket", bucket).filter(col("bucket").isin(todo: _*))
    // every output row must land in one of THIS run's pending buckets. A
    // null conv_id (a cross-row transform's derived lineage) would land in
    // the Hive default partition outside the manifest protocol, and a
    // conv_id rewritten into an already-committed bucket would make the
    // dynamic overwrite silently replace that bucket with only the moved
    // rows. Failing the WRITE JOB on the first such row keeps the run
    // atomic: a failed dynamic-overwrite job commits no partitions and no
    // manifest marks.
    val triples = transform(
        ExtractPipeline.extract(bucketed.drop("bucket"), registry, basePrefix,
          errorCounter, uriOptions))
      .withColumn("bucket",
        when(bucket.isin(todo: _*), bucket).otherwise(
          raise_error(lit("writeWithResume: transform emitted a row whose conv_id " +
            "lineage is null or outside this run's pending buckets — per-bucket " +
            "resume needs row-local transforms that keep each row's conv_id; run " +
            "cross-row transforms (entailment closure) over the completed table " +
            "instead")).cast("bigint")))

    // dynamic overwrite (writer-scoped option, not a session-wide conf):
    // replaces only the partitions being (re)written, so a half-written
    // bucket from a crashed attempt is atomically replaced. The row count
    // rides along as an observed metric on the write itself — no cache of
    // the full triple set, no second pass.
    val n = ExtractPipeline.writeCounted(triples, io.overwritePartitions(_, outDir, Seq("bucket")))
    commitBuckets(spark, outDir, todo, io)
    Summary(todo, done.toSeq.sorted, n)
  }

  def readGraph(spark: SparkSession, outDir: String,
                io: TableIO = TableIO.default): DataFrame =
    io.read(spark, outDir)
}
