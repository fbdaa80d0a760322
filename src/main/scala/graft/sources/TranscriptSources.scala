package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Alternate transcript/document sources feeding the same extraction
  * pipeline as the parquet tables — the input-format surface a user of the
  * reference CLI actually has on disk.
  */
object TranscriptSources {

  /** The transcript table an `--input` spec names (ExtractMain,
    * IncrementalMain): `synthetic:<nTurns>[:<nConvs>]` is the generated
    * corpus of [[graft.spark.Transcripts.synthetic]] (nConvs defaults to
    * nTurns/20), `html:<glob>` is [[htmlFiles]], `jsonl:<path>` is
    * [[jsonlTranscripts]], and anything else is a parquet path.
    */
  def fromSpec(spark: SparkSession, spec: String): DataFrame = spec match {
    case s if s.startsWith("synthetic:") =>
      val parts = s.stripPrefix("synthetic:").split(':')
      val nTurns = parts(0).toLong
      val nConvs = if (parts.length > 1) parts(1).toLong else math.max(nTurns / 20, 1L)
      graft.spark.Transcripts.synthetic(spark, nTurns, nConvs)
    case s if s.startsWith("html:") => htmlFiles(spark, s.stripPrefix("html:"))
    case s if s.startsWith("jsonl:") => jsonlTranscripts(spark, s.stripPrefix("jsonl:"))
    case path => spark.read.parquet(path)
  }

  /** A directory (or glob) of raw HTML files, one document per file — the
    * reference's own input shape (script/parse reads files/URLs;
    * reader.rb:136 initialize accepts an IO per document). Each file
    * becomes one transcript row: conv_id = file path (which then forms the
    * doc base URI through the pipeline's base-prefix rule, mirroring how
    * the reference resolves relative IRIs against the file location),
    * turn_idx = 0, text = UTF-8 content.
    *
    * Scale shape: `binaryFile` is a parallel file-per-task scan (small
    * files are packed per `maxPartitionBytes`); no shuffle is introduced —
    * extraction stays embarrassingly parallel.
    */
  def htmlFiles(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.htm*")
      .load(glob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      // decode in Scala, NOT via the decode() expression: under Spark 4's
      // ANSI mode one malformed byte sequence (a stray Latin-1 file in a
      // crawl) would fail the whole job; String(bytes, UTF_8) substitutes
      // U+FFFD and never throws — soft-skip philosophy, file granularity
      .map { case (path, bytes) =>
        (path, 0, new String(bytes, java.nio.charset.StandardCharsets.UTF_8), path)
      }
      // per-document base URI = the file's own location, so relative
      // hrefs/itemids resolve exactly as the reference CLI resolves them
      .toDF("conv_id", "turn_idx", "text", "base")
  }

  /** JSONL transcripts (the common LLM-data interchange format): one JSON
    * object per line, a line-delimited twin of the parquet tables carrying
    * [[graft.model.Turn.schema]]. The schema is EXPLICIT — schema inference would scan
    * the whole corpus once before the real read, an extra full pass that is
    * free to skip at 100 TB. Malformed lines surface as all-null rows under
    * the default PERMISSIVE mode and are dropped by the `conv_id` filter —
    * a soft skip, not a task failure (same error philosophy as the
    * extractor's accumulator; a "valid" line with no conv_id is equally
    * unusable downstream, so the filter is the right gate for both).
    */
  def jsonlTranscripts(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(graft.model.Turn.schema)
      .json(path)
      .filter(col("conv_id").isNotNull)
}
