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

  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] =
    TableIO.default.listMetadata(spark, outDir, ManifestPrefix)
      .map(_.stripPrefix("bucket-").toInt).toSet

  private def commitBuckets(spark: SparkSession, outDir: String, buckets: Iterable[Int]): Unit =
    buckets.foreach(b =>
      TableIO.default.writeMetadata(spark, outDir, s"_graft_manifest/bucket-$b", "done\n"))

  /** Extract + write all buckets not yet committed. Call again after a crash
    * (or with new data in the same buckets — buckets are all-or-nothing).
    * Extraction is row-local and keeps each row's conv_id, so every output
    * row lands in its source row's bucket — one of this run's pending ones.
    *
    * @param basePrefix   forwarded to extraction (per-turn base URIs) — the
    *                     CLI's --base-prefix applies on THIS path too
    * @param errorCounter forwarded to extraction so --validate sees soft
    *                     errors from the bucketed writes
    */
  def writeWithResume(transcripts: DataFrame, outDir: String, nBuckets: Int,
                      registry: RegistryIndex = ExtractPipeline.defaultRegistry,
                      basePrefix: String = null,
                      errorCounter: org.apache.spark.util.LongAccumulator = null,
                      uriOptions: graft.core.UriOptions = graft.core.UriOptions.default): Summary = {
    val spark = transcripts.sparkSession
    val done = completedBuckets(spark, outDir)
    val all = 0 until nBuckets
    val todo = all.filterNot(done)
    if (todo.isEmpty) return Summary(Nil, all, 0L)

    val bucket = pmod(crc32(col("conv_id")), lit(nBuckets))
    val bucketed = transcripts.withColumn("bucket", bucket).filter(col("bucket").isin(todo: _*))
    val triples = ExtractPipeline.extract(bucketed.drop("bucket"), registry, basePrefix,
        errorCounter, uriOptions)
      .withColumn("bucket", bucket)

    // dynamic overwrite (writer-scoped option, not a session-wide conf):
    // replaces only the partitions being (re)written, so a half-written
    // bucket from a crashed attempt is atomically replaced, and a failed
    // write job commits no partitions and no manifest marks. The row count
    // rides along as an observed metric on the write itself — no cache of
    // the full triple set, no second pass.
    val n = ExtractPipeline.writeCounted(triples,
      TableIO.default.overwritePartitions(_, outDir, Seq("bucket")))
    commitBuckets(spark, outDir, todo)
    Summary(todo, done.toSeq.sorted, n)
  }

  def readGraph(spark: SparkSession, outDir: String): DataFrame =
    TableIO.default.read(spark, outDir)
}
