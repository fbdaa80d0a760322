package graft.spark

import graft.model.Triple
import graft.spark.GraphQuery.{C, PersistedGraph, Path, V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The `pred_bucket` layout as one contract between its writers and its
  * readers: every writer puts a predicate under the same bucket, every
  * constant-predicate reader prunes to it, and the stats a table records
  * read back as written.
  */
class PredBucketLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Boss = "http://ex.org/boss"
  private val Peer = "http://ex.org/peer"
  private val Name = "http://ex.org/name"

  private def iri(s: String, p: String, o: String) =
    Triple(s"http://ex.org/$s", p, s"http://ex.org/$o", null, null, null, "c", 0)
  private def lit(s: String, p: String, o: String) =
    Triple(s"http://ex.org/$s", p, null, o, null, null, "c", 0)

  private val batch1 = Seq(iri("a", Boss, "b"), iri("b", Boss, "c"), iri("x", Boss, "y"),
    iri("b", Peer, "x"), lit("a", Name, "Ann"), lit("b", Name, "Bob"))
  private val batch2 = Seq(iri("c", Boss, "d"), iri("d", Peer, "a"),
    lit("c", Name, "Cy"), lit("y", Name, "Yu"))

  /** Each constant-predicate reader, answering as a set of rows. */
  private val readers: Seq[(String, PersistedGraph => DataFrame)] = Seq(
    "bgp" -> (g => GraphQuery.bgp(g, Seq((V("s"), C(Boss), V("m")), (V("m"), C(Name), V("n"))))),
    "evalPath atom" -> (g => GraphQuery.evalPath(g, Path.P(Boss))),
    "evalPath p+" -> (g => GraphQuery.evalPath(g, Path.Plus(Path.P(Boss)))),
    "pathPlus" -> (g => GraphQuery.pathPlus(g, Boss)),
    "pathPlusAlt" -> (g => GraphQuery.pathPlusAlt(g, Seq(Boss, Peer))),
    "pagerank" -> (g => GraphRank.pagerank(g, Some(Boss), 5)))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Every reader on `g` prunes partitions (each scan of the graph shows a
    * `pred_bucket` partition filter) and answers as the unpruned frame.
    */
  private def assertPrunes(layout: String, g: PersistedGraph): Unit = {
    assert(g.predBuckets == 8, layout)
    val plain = PersistedGraph(g.df, 0, Map.empty)
    val unbucketed = PersistedGraph(g.df.drop("pred_bucket"), g.predBuckets, g.stats)
    readers.foreach { case (name, read) =>
      val (got, plans) = JobFence.plansOf(spark)(rows(read(g)))
      // the formatted explain lists a scan's PartitionFilters only when it
      // has some: every parquet scan must carry one over pred_bucket
      def lines(p: String) = p.linesIterator.map(_.trim).toSeq
      val scans = plans.map(p => lines(p).count(_.matches("""\(\d+\) Scan parquet.*""")))
      val pruned = plans.map(p =>
        lines(p).count(l => l.startsWith("PartitionFilters:") && l.contains("pred_bucket")))
      assert(scans.sum > 0 && scans == pruned,
        s"$layout / $name: a scan without bucket pruning:\n${plans.mkString("\n----\n")}")
      val expected = rows(read(plain))
      assert(got == expected && got.nonEmpty, s"$layout / $name")
      assert(rows(read(unbucketed)) == expected, s"$layout / $name without a pred_bucket column")
    }
  }

  test("every constant-predicate reader prunes pred_bucket on all three layouts") {
    val all = (batch1 ++ batch2).toDS()
    val dir = Files.createTempDirectory("pbl_graph_").toString
    ExtractPipeline.writeGraph(all, dir, predBuckets = 8)
    assertPrunes("writeGraph", GraphQuery.loadGraph(spark, dir))

    val root = Files.createTempDirectory("pbl_root_").toString
    IncrementalGraph.foldBatch(batch1.toDS(), root, predBuckets = 8)
    IncrementalGraph.foldBatch(batch2.toDS(), root, predBuckets = 8)
    assertPrunes("folded root", IncrementalGraph.readGraph(spark, root))

    val compacted = Files.createTempDirectory("pbl_compact_").toString
    IncrementalGraph.compactRoot(spark, root, compacted)
    assertPrunes("compacted root", IncrementalGraph.readGraph(spark, compacted))
  }

  test("foldBatch, compact, sinkToGraph and writeGraph put a predicate under the same pred_bucket") {
    val in = Files.createTempDirectory("pbl_in_").toString
    Transcripts.synthetic(spark, 60, 4).write.mode("overwrite").parquet(in)
    val triples = ExtractPipeline.extract(spark.read.parquet(in))

    val base = Files.createTempDirectory("pbl_writers_").toString
    ExtractPipeline.writeGraph(triples, s"$base/written", predBuckets = 8)
    IncrementalGraph.foldBatch(triples, s"$base/root", predBuckets = 8)
    IncrementalGraph.compact(spark, s"$base/root/graph", s"$base/compacted")
    val q = graft.streaming.StreamingExtract.sinkToGraph(
      graft.streaming.StreamingExtract.extractStream(spark, in), s"$base/sunk",
      s"$base/cp", predBuckets = 8)
    try q.processAllAvailable() finally q.stop()

    // pred_bucket reads back from the partition directory names
    def buckets(dir: String): Map[String, Set[Int]] =
      spark.read.parquet(dir).select(col("pred"), col("pred_bucket")).distinct().collect()
        .groupBy(_.getString(0)).map { case (p, rs) => p -> rs.map(_.getInt(1)).toSet }
    val written = buckets(s"$base/written")
    assert(written.size > 3 && written.values.forall(_.size == 1), written)
    Seq("root/graph", "compacted", "sunk").foreach { d =>
      assert(buckets(s"$base/$d") == written, d)
    }
  }

  test("a subject table's graft.pred_stats property in the stored format reads back exactly") {
    val triples = (batch1 ++ batch2).toDS()
    val path = Files.createTempDirectory("pbl_subj_").toString
    ExtractPipeline.writeGraphBucketedBySubject(triples, "pbl_stats_tbl", buckets = 4,
      path = s"$path/tbl")
    // counts unlike the table's own, so the fallback scan cannot match
    val stored = s"""{"$Boss":41,"$Name":7,"http://ex.org/absent":2}"""
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("pbl_stats_tbl")
    val meta = catalog.getTableMetadata(ident)
    catalog.alterTable(meta.copy(properties =
      meta.properties + (ExtractPipeline.PredStatsProperty -> stored)))
    assert(GraphQuery.loadBucketedGraph(spark, "pbl_stats_tbl").stats ==
      Map(Boss -> 41L, Name -> 7L, "http://ex.org/absent" -> 2L))
  }
}
