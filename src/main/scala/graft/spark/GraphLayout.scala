package graft.spark

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** What a graph directory's `_graft_layout.json` says about its table —
  * the one codec every writer and reader of that file goes through.
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
    stats.foreach { s =>
      val node = root.putObject("pred_stats")
      s.toSeq.sortBy(_._1).foreach { case (p, n) => node.put(p, n) }
    }
    schema.foreach(s => root.set[JsonNode]("schema", GraphLayout.mapper.readTree(s.json)))
    GraphLayout.mapper.writeValueAsString(root) + "\n"
  }
}

private[graft] object GraphLayout {
  private val mapper = new ObjectMapper()

  /** The layout a document describes; None when it is not JSON (a torn
    * write). A missing field reads as absent; so does a `schema` Spark
    * cannot parse, which leaves that reader on schema inference.
    */
  def parse(json: String): Option[GraphLayout] = scala.util.Try {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(json)
    val buckets = Option(root.get("pred_buckets")).map(_.asInt(0)).getOrElse(0)
    val stats = Option(root.get("pred_stats")).filter(_.isObject)
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
    val schema = Option(root.get("schema")).filter(_.isObject).flatMap(n =>
      scala.util.Try(DataType.fromJson(n.toString)).toOption.collect { case s: StructType => s })
    GraphLayout(buckets, stats, schema)
  }.toOption

  /** The directory's layout; None when absent or unparseable. Read
    * failures of the metadata seam itself propagate.
    */
  def read(spark: SparkSession, dir: String, io: TableIO): Option[GraphLayout] =
    io.readMetadata(spark, dir, ExtractPipeline.LayoutFile).flatMap(parse)

  /** Whether the directory carries a layout file at all, parseable or not
    * (a batch-layout dir exists from its first writer on).
    */
  def exists(spark: SparkSession, dir: String, io: TableIO): Boolean =
    io.readMetadata(spark, dir, ExtractPipeline.LayoutFile).isDefined

  def write(spark: SparkSession, dir: String, io: TableIO, layout: GraphLayout): Unit =
    io.writeMetadata(spark, dir, ExtractPipeline.LayoutFile, layout.toJson)
}
