package graft

import graft.core.RegistryIndex
import graft.sources.TranscriptSources
import graft.spark.{Entailment, ExtractPipeline, Resume}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point — the distributed counterpart of the reference
  * CLI (/root/reference/script/parse): transcripts table in, materialized
  * graph (or N-Triples text) out, with a parsed-statements throughput report.
  *
  * Usage:
  *   spark-submit --class graft.ExtractMain <jar> \
  *     --input  /path/to/transcripts_parquet \
  *     --output /path/to/graph \
  *     [--registry /path/to/registry.json] \
  *     [--base-prefix conv://] [--buckets 256] [--entail] [--ntriples] \
  *     [--subject-table graph_by_subj] [--validate]
  *     [--validate-uris] [--canonicalize-uris]
  *
  * `--entail` requires `--ntriples` or `--subject-table` (the closure is
  * whole-graph; the bucketed resume path writes per-bucket batches and
  * refuses the flag).
  *
  * `--subject-table <name>` materializes the graph as a SUBJECT-BUCKETED
  * catalog table instead of the pred_bucket directory layout: `--output`
  * becomes the external data location, `--buckets` the subject bucket
  * count, and consumer-side subject-star BGP queries
  * (`QueryMain --table <name>`) then join shuffle-free off the bucketed
  * scans. This path is a single atomic saveAsTable overwrite (no
  * per-bucket resume — the catalog swap is the commit point).
  *
  * `--input` also takes `synthetic:<nTurns>[:<nConvs>]` (a data-free,
  * spark.range-driven corpus), `html:<glob>` (one document per file, the
  * reference CLI's input shape) or `jsonl:<path>` — see
  * [[graft.sources.TranscriptSources.fromSpec]].
  *
  * Output is written with checkpointed resume (Resume.writeWithResume):
  * re-running after a failure completes only the missing buckets.
  */
object ExtractMain {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    // spark-submit provides master/conf (respected); a borrowed session is
    // never stopped here
    CliArgs.withExtractSession(extract(opts, _))
  }

  private def extract(opts: Map[String, String], spark: SparkSession): Unit = {
    val registry = opts.get("registry").map(RegistryIndex.fromUri)
      .getOrElse(ExtractPipeline.defaultRegistry)
    val transcripts = TranscriptSources.fromSpec(spark, opts("input"))
    val errors = spark.sparkContext.longAccumulator("extract_errors")

    require(!(opts.contains("ntriples") && opts.contains("subject-table")),
      "--ntriples and --subject-table are mutually exclusive output modes")

    // the reference's reader options validate:/canonicalize: (reader.rb:83-88)
    // as opt-in flags; --validate-uris errors feed the same accumulator the
    // --validate exit path checks
    val uriOpts = graft.core.UriOptions(
      validate = opts.contains("validate-uris"),
      canonicalize = opts.contains("canonicalize-uris"))

    def wholeGraph(): org.apache.spark.sql.Dataset[graft.model.Triple] = {
      val triples = ExtractPipeline.canonicalize(
        ExtractPipeline.extract(transcripts, registry,
          opts.getOrElse("base-prefix", null), errors, uriOpts))
      if (opts.contains("entail")) Entailment.owlEntail(triples) else triples
    }

    val t0 = System.nanoTime()
    val written: Long =
      if (opts.contains("ntriples"))
        ExtractPipeline.writeCounted(ExtractPipeline.toNTriples(wholeGraph()),
          _.write.mode("overwrite").text(opts("output")))
      else if (opts.contains("subject-table"))
        // subject-bucketed catalog table: one whole-graph pass (entailment
        // composes), counted via the shared observed-metric ride-along
        ExtractPipeline.writeCounted(wholeGraph().toDF(), df =>
          ExtractPipeline.writeGraphBucketedBySubject(
            df.as(org.apache.spark.sql.Encoders.product[graft.model.Triple]),
            opts("subject-table"), opts.getOrElse("buckets", "256").toInt,
            path = opts("output")))
      else {
        // entailment is a WHOLE-GRAPH closure; the bucketed resume path
        // writes per-bucket batches, where a resumed run would compute the
        // closure over only the missing buckets — silently partial. Refuse
        // instead of ignoring the flag (it works with --ntriples and
        // --subject-table, which materialize the full graph in one pass).
        require(!opts.contains("entail"),
          "--entail requires --ntriples or --subject-table: the bucketed " +
            "resume path cannot apply a whole-graph closure per bucket batch")
        val summary = Resume.writeWithResume(transcripts, opts("output"),
          opts.getOrElse("buckets", "256").toInt, registry,
          basePrefix = opts.getOrElse("base-prefix", null),
          errorCounter = errors,
          uriOptions = uriOpts)
        summary.rowsWritten
      }
    val secs = (System.nanoTime() - t0) / 1e9

    CliArgs.checkValidate(opts, errors.value)
    // the reference CLI's self-report (script/parse:98), distributed edition
    println(f"Parsed $written statements in $secs%.2f seconds @ ${written / secs}%.0f statements/second. (errors=${errors.value})")
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    CliArgs.parse(args, flags = Set("entail", "ntriples", "validate", "validate-uris", "canonicalize-uris"),
      required = Seq("input", "output"))._1
}
