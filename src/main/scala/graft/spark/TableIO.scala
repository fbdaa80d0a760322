package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Materialization seam for the graph tables (north rule: "materializes the
  * graph as partitioned (subj, pred, obj) Iceberg tables").
  *
  * The sandbox ships no Iceberg runtime jars (SURVEY.md §7.4), so the
  * default binding is parquet with Iceberg-layout partitioning + the
  * Resume manifest standing in for snapshot metadata. Every writer in the
  * pipeline goes through this trait's one binding, [[TableIO.default]], so
  * an Iceberg deployment implements it once against a catalog table name
  * and binds it there:
  *
  *  - `write`              → `df.writeTo(table).using("iceberg").createOrReplace()`
  *  - `overwritePartitions`→ `df.writeTo(table).overwritePartitions()`
  *  - `read`               → `spark.table(table)` (the catalog holds the
  *    schema: a recorded `schema` argument is ignored)
  *
  * and gains real snapshot isolation + atomic partition replacement; the
  * manifest-based Resume then degrades gracefully into a redundant (but
  * still idempotent) progress record.
  */
trait TableIO {
  /** Full-table overwrite, partitioned by `partitionCols`. */
  def write(df: DataFrame, table: String, partitionCols: Seq[String]): Unit

  /** Replace ONLY the partitions present in `df` (dynamic overwrite) —
    * the idempotent-retry primitive Resume builds on.
    */
  def overwritePartitions(df: DataFrame, table: String, partitionCols: Seq[String]): Unit

  /** Read a table; `schema`, when given, is the one the table was
    * recorded with (a graph layout's `schema`, [[GraphLayout]]): data
    * columns, then the partition columns. The parquet binding then skips
    * schema inference — a Spark job that reads parquet footers — and only
    * lists the directory. A binding whose catalog knows the schema
    * (Iceberg) ignores it.
    */
  def read(spark: SparkSession, table: String, schema: Option[StructType] = None): DataFrame

  /** Drop a whole table (version retention in [[LinkStateStore]]). Parquet:
    * recursive delete of the directory; Iceberg: `DROP TABLE`. Must be a
    * no-op when the table does not exist (retention races are benign).
    */
  def dropTable(spark: SparkSession, table: String): Unit

  /** Persist small table-scoped metadata (layout/stats JSON, resume marks)
    * under `name`, atomically: a torn write must never surface as a
    * half-written document. The parquet binding writes a `_`-prefixed
    * sidecar file (invisible to Spark's listing, like _SUCCESS); an Iceberg
    * binding stores table properties / snapshot summary entries instead —
    * which is why callers go through this seam rather than building a
    * filesystem Path from `table` (a catalog identifier is not a path).
    */
  def writeMetadata(spark: SparkSession, table: String, name: String, content: String): Unit

  /** Read metadata written by [[writeMetadata]]; None when absent. */
  def readMetadata(spark: SparkSession, table: String, name: String): Option[String]

  /** List metadata base names matching `prefix` (Resume's bucket marks).
    * A prefix containing '/' addresses a metadata subdirectory: the listing
    * happens there and the returned names are relative to it.
    */
  def listMetadata(spark: SparkSession, table: String, prefix: String): Seq[String]
}

/** Parquet binding: `table` is a directory path — local, hdfs:// or s3a://;
  * all filesystem access goes through the path's own Hadoop FileSystem so
  * the same code runs under spark-submit against cluster storage.
  */
final class ParquetTableIO extends TableIO {
  import org.apache.hadoop.fs.Path

  override def write(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(table)

  override def overwritePartitions(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(table)

  override def read(spark: SparkSession, table: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(table)

  override def dropTable(spark: SparkSession, table: String): Unit = {
    val hp = new Path(table)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  // write-then-rename so a killed writer leaves no truncated file; the
  // delete/rename RESULTS are checked — on object stores a failed rename
  // would otherwise silently drop the metadata (readers then degrade, e.g.
  // loadGraph loses partition pruning, with nothing observable)
  override def writeMetadata(spark: SparkSession, table: String, name: String,
                             content: String): Unit = {
    val hp = new Path(table, name)
    val tmp = new Path(table, name + ".tmp")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(hp) && !fs.delete(hp, false))
      throw new java.io.IOException(s"could not replace existing metadata $hp")
    if (!fs.rename(tmp, hp))
      throw new java.io.IOException(s"rename $tmp -> $hp failed; metadata not committed")
  }

  override def readMetadata(spark: SparkSession, table: String, name: String): Option[String] = {
    val hp = new Path(table, name)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) None
    else {
      val in = fs.open(hp)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  override def listMetadata(spark: SparkSession, table: String, prefix: String): Seq[String] = {
    val slash = prefix.lastIndexOf('/')
    val (dir, namePrefix) =
      if (slash >= 0) (new Path(table, prefix.substring(0, slash)), prefix.substring(slash + 1))
      else (new Path(table), prefix)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(namePrefix) && !n.endsWith(".tmp")).toSeq
  }
}

object TableIO {
  /** The one binding of the process: every graph, resume manifest and
    * link-state store goes through it, so no root can have its parts
    * written through different bindings. A deployment binds Iceberg here.
    */
  val default: TableIO = new ParquetTableIO
}
