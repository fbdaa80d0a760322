package graft.spark

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.types.{DataType, StructType}

/** What a graph directory's `_graft_layout.json` says about its table —
  * the one codec every writer and reader of that file goes through, and
  * the owner of the `pred_bucket` rule ([[GraphLayout.bucket]]).
  *
  * @param predBuckets the `pred_bucket` hash-bucket count the rows were
  *                    written with (0 = unknown: no partition pruning)
  * @param stats       write-time predicate frequencies
  *                    ([[ExtractPipeline.writeGraph]] only — a batch
  *                    layout appends, so counts would go stale)
  * @param schema      the table's schema as Spark reads it back (data
  *                    columns, then the partition columns): a reader that
  *                    passes it to [[TableIO.read]] skips the parquet
  *                    footer-inference job
  */
private[graft] final case class GraphLayout(predBuckets: Int,
                                            stats: Option[Map[String, Long]] = None,
                                            schema: Option[StructType] = None) {
  def toJson: String = {
    val root = GraphLayout.mapper.createObjectNode()
    root.put("pred_buckets", predBuckets)
    stats.foreach(s =>
      root.set[JsonNode]("pred_stats", GraphLayout.mapper.readTree(GraphLayout.statsJson(s))))
    schema.foreach(s => root.set[JsonNode]("schema", GraphLayout.mapper.readTree(s.json)))
    GraphLayout.mapper.writeValueAsString(root) + "\n"
  }
}

private[graft] object GraphLayout {
  private val mapper = new ObjectMapper()

  /** The partition column a predicate's rows live under. */
  val BucketColumn = "pred_bucket"

  /** The bucket count of a writer whose caller names none. */
  val DefaultBuckets = 16

  /** The bucket of `pred` among `n`: the one hash every writer labels rows
    * with and every reader prunes by. Writers pass `col("pred")`; a reader
    * passes `lit(p)`, which Catalyst constant-folds into a partition filter.
    */
  def bucket(pred: Column, n: Int): Column = pmod(hash(pred), lit(n))

  /** The stats codec, predicate → count as a JSON object: the layout's
    * `pred_stats` field and a subject table's [[ExtractPipeline.PredStatsProperty]].
    */
  def statsJson(stats: Map[String, Long]): String = {
    val node = mapper.createObjectNode()
    stats.toSeq.sortBy(_._1).foreach { case (p, n) => node.put(p, n) }
    mapper.writeValueAsString(node)
  }

  /** The stats a [[statsJson]] document holds; None when it is no JSON object. */
  def parseStats(json: String): Option[Map[String, Long]] = {
    import scala.jdk.CollectionConverters._
    scala.util.Try(mapper.readTree(json)).toOption.filter(_.isObject)
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
  }

  /** The layout a document describes; None when it is not JSON (a torn
    * write). A missing field reads as absent; so does a `schema` Spark
    * cannot parse, which leaves that reader on schema inference.
    */
  def parse(json: String): Option[GraphLayout] = scala.util.Try {
    val root = mapper.readTree(json)
    val buckets = Option(root.get("pred_buckets")).map(_.asInt(0)).getOrElse(0)
    val stats = Option(root.get("pred_stats")).flatMap(n => parseStats(n.toString))
    val schema = Option(root.get("schema")).filter(_.isObject).flatMap(n =>
      scala.util.Try(DataType.fromJson(n.toString)).toOption.collect { case s: StructType => s })
    GraphLayout(buckets, stats, schema)
  }.toOption

  /** The directory's layout; None when absent or unparseable. Read
    * failures of the metadata seam itself propagate.
    */
  def read(spark: SparkSession, dir: String): Option[GraphLayout] =
    TableIO.default.readMetadata(spark, dir, ExtractPipeline.LayoutFile).flatMap(parse)

  /** Whether the directory carries a layout file at all, parseable or not
    * (a batch-layout dir exists from its first writer on).
    */
  def exists(spark: SparkSession, dir: String): Boolean =
    TableIO.default.readMetadata(spark, dir, ExtractPipeline.LayoutFile).isDefined

  def write(spark: SparkSession, dir: String, layout: GraphLayout): Unit =
    TableIO.default.writeMetadata(spark, dir, ExtractPipeline.LayoutFile, layout.toJson)
}
