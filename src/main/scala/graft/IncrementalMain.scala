package graft

import graft.core.RegistryIndex
import graft.sources.TranscriptSources
import graft.spark.{ExtractPipeline, GraphLayout, IncrementalGraph}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the NIGHTLY-CRAWL shape: fold one delta
  * batch of transcripts into a standing graph root, maintaining the raw
  * graph (novel-rows append), the entity-link state, and optionally the
  * entailment closure — all incrementally ([[graft.spark.IncrementalGraph]];
  * per-batch cost scales with the delta, never the corpus).
  *
  *   spark-submit --class graft.IncrementalMain <jar> \
  *     --root   /path/to/standing_root \
  *     --input  /path/to/delta_transcripts_parquet \
  *     [--link-keys http://schema.org/contact,http://schema.org/email] \
  *     [--entail] [--buckets 16] [--registry …] [--base-prefix …] \
  *     [--validate] [--validate-uris] [--canonicalize-uris]
  *
  * Maintenance mode: `--root <src> --compact <destRoot>` (no `--input`)
  * rewrites the accumulated batch partitions of every standing artifact
  * side-by-side into `destRoot` as one generation
  * ([[graft.spark.IncrementalGraph.compactRoot]]); the source stays
  * untouched and the root swap is the storage layer's atomic operation.
  *
  * `--validate` fails the run once the batch is folded if extraction
  * reported soft errors: exit code 2 under spark-submit, as [[ExtractMain]].
  *
  * `--input` accepts the same forms as [[ExtractMain]]
  * ([[graft.sources.TranscriptSources.fromSpec]]). Every run folds: against
  * an empty root, every artifact folds into an empty one. Query the
  * standing root with [[QueryMain]] `--graph <root>/graph` (or
  * `<root>/closure`), or through [[graft.spark.IncrementalGraph
  * .readCanonical]] for the entity-canonical view.
  */
object IncrementalMain {

  def main(args: Array[String]): Unit = {
    val opts = CliArgs.parse(args,
      flags = Set("entail", "validate", "validate-uris", "canonicalize-uris"),
      required = Seq("root"))._1
    require(opts.contains("input") ^ opts.contains("compact"),
      "exactly one of --input <delta> (fold) or --compact <destRoot> (maintenance) is required")
    CliArgs.withExtractSession { spark =>
      opts.get("compact") match {
        case Some(dest) =>
          val (g, c, l) = IncrementalGraph.compactRoot(spark, opts("root"), dest)
          println(s"Compacted to $dest: $g graph triples" +
            (if (c >= 0) s", $c closure triples" else "") +
            (if (l >= 0) s", link state $l nodes" else "") + ".")
        case None =>
          val s = run(opts, spark)
          println(s"Folded batch ${s.batchId}: ${s.newTriples} new triples" +
            (if (s.newClosureTriples >= 0) s", ${s.newClosureTriples} new closure triples" else "") +
            (if (s.linkStateNodes >= 0) s", link state ${s.linkStateNodes} nodes" else "") + ".")
      }
    }
  }

  /** Parse-free core so the suite drives the full CLI path without owning
    * session lifecycle. Returns the fold summary.
    */
  def run(opts: Map[String, String], spark: SparkSession): IncrementalGraph.CrawlSummary = {
    val registry = opts.get("registry").map(RegistryIndex.fromUri)
      .getOrElse(ExtractPipeline.defaultRegistry)
    val transcripts = TranscriptSources.fromSpec(spark, opts("input"))
    val errors = spark.sparkContext.longAccumulator("extract_errors")
    val uriOpts = graft.core.UriOptions(
      validate = opts.contains("validate-uris"),
      canonicalize = opts.contains("canonicalize-uris"))
    val delta = ExtractPipeline.extract(transcripts, registry,
      opts.getOrElse("base-prefix", null), errors, uriOpts)
    val summary = IncrementalGraph.foldBatch(delta, opts("root"),
      predBuckets = opts.get("buckets").fold(GraphLayout.DefaultBuckets)(_.toInt),
      linkKeys = opts.get("link-keys").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      entail = opts.contains("entail"))
    CliArgs.checkValidate(opts, errors.value)
    summary
  }
}
