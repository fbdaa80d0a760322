package graft.spark

import graft.spark.GraphQuery.{C, V, bgp}
import org.scalatest.funsuite.AnyFunSuite

class GraphQuerySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val TypeP = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  // (subj, pred, obj_iri, obj_lexical) rows; other Triple columns unused
  private def graph = Seq(
    ("p1", TypeP, "Person", null),
    ("p2", TypeP, "Person", null),
    ("d1", TypeP, "Doc", null),
    ("p1", "name", null, "Ann"),
    ("p2", "name", null, "Bob"),
    ("p1", "knows", "p2", null),
    ("p2", "knows", "p1", null),
    ("p1", "likes", "p1", null))
    .toDF("subj", "pred", "obj_iri", "obj_lexical")

  private def asGraph = GraphQuery.PersistedGraph(graph, 0, Map.empty)

  test("bgp: multi-pattern join binds across subject and object positions") {
    // persons and the NAME of someone they know
    val out = bgp(asGraph, Seq(
      (V("x"), C(TypeP), C("Person")),
      (V("x"), C("knows"), V("y")),
      (V("y"), C("name"), V("n"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(("p1", "p2", "Bob"), ("p2", "p1", "Ann")))
  }

  test("bgp: literal and IRI objects share one binding domain") {
    val out = bgp(asGraph, Seq((V("s"), C("name"), V("v"))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("p1", "Ann"), ("p2", "Bob")))
  }

  test("bgp: repeated variable inside one pattern filters equality") {
    val out = bgp(asGraph, Seq((V("x"), C("likes"), V("x"))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("p1")) // p1 likes p1; knows edges are not reflexive
  }

  test("bgp: disconnected pattern set is refused, never a cartesian") {
    val e = intercept[IllegalArgumentException] {
      bgp(asGraph, Seq(
        (V("a"), C("name"), V("b")),
        (V("c"), C("knows"), V("d"))))
    }
    assert(e.getMessage.contains("disconnected"))
  }

  test("bgp: join order is connectivity-greedy (listed order may interleave)") {
    // patterns listed so #2 is disconnected from #1 but #3 bridges them:
    // the greedy order must pick #3 before #2 instead of failing
    val out = bgp(asGraph, Seq(
      (V("x"), C(TypeP), C("Person")),
      (V("y"), C("name"), V("n")),
      (V("x"), C("knows"), V("y"))))
    assert(out.count() == 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian leaked into:\n$plan")
  }

  test("bgp cost model: pred frequency ranks patterns; constants discount; absent pred = 0") {
    val stats = Map(TypeP -> 1000L, "name" -> 400L, "knows" -> 20L)
    val typePat: (GraphQuery.Term, GraphQuery.Term, GraphQuery.Term) =
      (V("x"), C(TypeP), C("Person"))
    val namePat: (GraphQuery.Term, GraphQuery.Term, GraphQuery.Term) =
      (V("x"), C("name"), V("n"))
    val knowsPat: (GraphQuery.Term, GraphQuery.Term, GraphQuery.Term) =
      (V("x"), C("knows"), V("y"))
    val absentPat: (GraphQuery.Term, GraphQuery.Term, GraphQuery.Term) =
      (V("x"), C("nope"), V("y"))
    // the object constant discounts the hot rdf:type pattern below the
    // bare selective-pred pattern
    assert(GraphQuery.estimate(typePat, stats) == 10L)
    assert(GraphQuery.estimate(namePat, stats) == 400L)
    assert(GraphQuery.estimate(knowsPat, stats) == 20L)
    assert(GraphQuery.estimate(absentPat, stats) == 0L)
    // stats-free fallback: more constants = cheaper
    assert(GraphQuery.estimate(typePat, Map.empty) <
      GraphQuery.estimate(knowsPat, Map.empty))
  }

  test("bgp with stats: selectivity-ordered join returns identical bindings") {
    val stats = GraphQuery.predStats(graph)
    val pats = Seq[(GraphQuery.Term, GraphQuery.Term, GraphQuery.Term)](
      (V("x"), C(TypeP), C("Person")),
      (V("x"), C("knows"), V("y")),
      (V("y"), C("name"), V("n")))
    val base = bgp(asGraph, pats).collect().map(_.toSeq).toSet
    val ordered = bgp(GraphQuery.PersistedGraph(graph, 0, stats), pats).collect().map(_.toSeq).toSet
    assert(ordered == base && base.nonEmpty)
  }

  test("bgp over persisted writeGraph layout: pushdown + partition pruning, same results") {
    import org.apache.spark.sql.functions.col
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span><link itemprop="nation" href="http://x/n1"/></div>"""),
      ("c2", 0, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/n1"><span itemprop="name">Norway</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.extract(turns)
    val tmp = java.nio.file.Files.createTempDirectory("gq_graph_").toString
    ExtractPipeline.writeGraph(triples, tmp, predBuckets = 8)
    // the layout describes its own bucket count — loadGraph reads it back
    // (a guessed-wrong count would silently empty constant-pred patterns)
    val g = GraphQuery.loadGraph(spark, tmp)
    assert(g.predBuckets == 8)
    val pats = Seq[(GraphQuery.Term, GraphQuery.Term, GraphQuery.Term)](
      (V("p"), C(TypeP), C("http://schema.org/Person")),
      (V("p"), C("http://schema.org/name"), V("name")),
      (V("p"), C("http://schema.org/nation"), V("nat")),
      (V("nat"), C("http://schema.org/name"), V("nat_name")))
    val out = bgp(g, pats)
    assert(out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq == Seq(("http://x/p1", "Ann", "http://x/n1", "Norway")))
    // the constant-pred filter reaches the parquet scan, and the folded
    // bucket hash prunes partitions at the scan node
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(pred,"),
      s"pred filter not pushed:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("pred_bucket"),
      s"bucket pruning missing:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bgp: a pattern over an absent predicate estimates 0, seeds the join, empties the result") {
    val out = bgp(GraphQuery.PersistedGraph(graph, 0, GraphQuery.predStats(graph)), Seq(
      (V("x"), C(TypeP), C("Person")),
      (V("x"), C("no_such_pred"), V("z"))))
    assert(out.count() == 0)
  }

  test("bgp metamorphic: bindings are invariant under pattern list permutation") {
    val pats = Seq[(GraphQuery.Term, GraphQuery.Term, GraphQuery.Term)](
      (V("x"), C(TypeP), C("Person")),
      (V("x"), C("knows"), V("y")),
      (V("y"), C("name"), V("n")))
    val expected = bgp(asGraph, pats).collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    pats.permutations.foreach { perm =>
      val got = bgp(asGraph, perm).collect().map(_.toSeq).toSet
      // variable columns surface in the PERMUTATION's first-mention order —
      // compare as (name -> value) maps so only the bindings matter
      val cols = bgp(asGraph, perm).columns
      val expCols = bgp(asGraph, pats).columns
      val gotMaps = got.map(r => cols.zip(r).toMap)
      val expMaps = expected.map(r => expCols.zip(r).toMap)
      assert(gotMaps == expMaps, s"order ${perm.map(_.toString).mkString(";")}")
    }
  }

  test("QueryMain CLI: persisted graph in, parquet bindings out, equals direct bgp") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann Lee</span><link itemprop="nation" href="http://x/n1"/></div>"""),
      ("c2", 0, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/n1"><span itemprop="name">Norway</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val base = java.nio.file.Files.createTempDirectory("gq_cli_").toString
    ExtractPipeline.writeGraph(ExtractPipeline.extract(turns), s"$base/graph", predBuckets = 8)
    val n = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out",
      "--pattern", "?p <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person>",
      "--pattern", "?p <http://schema.org/name> ?name"), spark)
    assert(n == 1L)
    val rows = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("http://x/p1", "Ann Lee")))
    // a literal constant (with a space) as the object term
    val n2 = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out2",
      "--pattern", "?p <http://schema.org/name> \"Ann Lee\""), spark)
    assert(n2 == 1L)
    // --table: the same query over a subject-bucketed catalog table
    ExtractPipeline.writeGraphBucketedBySubject(
      ExtractPipeline.canonicalize(ExtractPipeline.extract(turns)),
      "gq_cli_tbl", buckets = 4, path = s"$base/tbl")
    val n3 = graft.QueryMain.run(Array(
      "--table", "gq_cli_tbl", "--output", s"$base/out3",
      "--pattern", "?p <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person>",
      "--pattern", "?p <http://schema.org/name> ?name"), spark)
    assert(n3 == 1L)
    val rows3 = spark.read.parquet(s"$base/out3")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows3.toSeq == Seq(("http://x/p1", "Ann Lee")))
    // --graph and --table are mutually exclusive and one is required
    intercept[IllegalArgumentException](graft.QueryMain.run(Array(
      "--output", s"$base/out4", "--pattern", "?a <p> ?b"), spark))
    // --describe: patterns select, the output is FULL triples about ?p
    val n5 = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out5", "--describe", "?p",
      "--pattern", "?p <http://schema.org/name> \"Ann Lee\""), spark)
    assert(n5 == 3L) // type + name + nation, nothing of n1's
    val preds = spark.read.parquet(s"$base/out5")
      .collect().map(_.getString(1)).toSet
    assert(preds == Set("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
      "http://schema.org/name", "http://schema.org/nation"))
    // --optional: n1 is a Country with a name but nothing reports to it —
    // the row survives with the optional binding NULL
    val n6 = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out6",
      "--pattern", "?e <http://schema.org/name> ?n",
      "--optional", "?e <http://schema.org/nation> ?nat"), spark)
    assert(n6 == 2L) // p1 (with nation) and n1 (NULL nation)
    val optRows = spark.read.parquet(s"$base/out6")
      .collect().map(r => (r.getString(0), r.isNullAt(2))).toMap
    assert(!optRows("http://x/p1") && optRows("http://x/n1"))
    // --minus: drop entities that have a nation
    val n7 = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out7",
      "--pattern", "?e <http://schema.org/name> ?n",
      "--minus", "?e <http://schema.org/nation> ?nat"), spark)
    assert(n7 == 1L)
    assert(spark.read.parquet(s"$base/out7").collect().head.getString(0) == "http://x/n1")
  }

  test("subject-star BGP over the bucketed table: ZERO Exchange, results equal plain-frame bgp") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span><link itemprop="nation" href="http://x/n1"/></div>"""),
      ("c2", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p2"><span itemprop="name">Bob</span><link itemprop="nation" href="http://x/n2"/></div>"""),
      ("c3", 0, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/n1"><span itemprop="name">Norway</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.canonicalize(ExtractPipeline.extract(turns))
    val dataPath = java.nio.file.Files.createTempDirectory("gq_bucketed_").toString
    ExtractPipeline.writeGraphBucketedBySubject(triples, "gq_star_test",
      buckets = 4, path = s"$dataPath/tbl")
    val g = GraphQuery.loadBucketedGraph(spark, "gq_star_test")
    // the catalog property is actually THERE (the fallback scan would
    // produce the same map, so asserting map equality alone can't tell the
    // write-time-stats path from the fallback)
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("gq_star_test"))
      .properties
    assert(props.contains(ExtractPipeline.PredStatsProperty),
      s"pred stats table property missing; properties: ${props.keys.mkString(",")}")
    assert(g.stats == GraphQuery.predStats(triples.toDF()))
    val pats = Seq(
      (V("c"), C(TypeP), C("http://schema.org/Person")),
      (V("c"), C("http://schema.org/name"), V("name")),
      (V("c"), C("http://schema.org/nation"), V("nat")))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: the bucketed scans ALONE must satisfy the star
      // join's distribution — any hashpartitioning Exchange in the plan
      // means the write-time bucketing was not consumed
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = bgp(g, pats)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"subject-star join over the bucketed table must be shuffle-free:\n$plan")
      val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val exp = bgp(GraphQuery.PersistedGraph(triples.toDF(), 0, Map.empty), pats)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == exp && got == Set(
        ("http://x/p1", "Ann", "http://x/n1"), ("http://x/p2", "Bob", "http://x/n2")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("mixed star+cross BGP over the bucketed table: star joins stay shuffle-free, only the cross join exchanges") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span><link itemprop="nation" href="http://x/n1"/></div>"""),
      ("c2", 0, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/n1"><span itemprop="name">Norway</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.canonicalize(ExtractPipeline.extract(turns))
    val dataPath = java.nio.file.Files.createTempDirectory("gq_star2_").toString
    ExtractPipeline.writeGraphBucketedBySubject(triples, "gq_star2_test",
      buckets = 4, path = s"$dataPath/tbl")
    val g = GraphQuery.loadBucketedGraph(spark, "gq_star2_test")
    // the kg_bgp_person_nation shape: three patterns star on ?c, the fourth
    // joins on ?nat (subject of pattern 4, object of pattern 3) — the star
    // tie-break must order all ?c joins first so only the ?nat join
    // shuffles, and only the ACC side of it (pattern 4's frame is already
    // subject-partitioned by the bucketed scan)
    val pats = Seq(
      (V("c"), C(TypeP), C("http://schema.org/Person")),
      (V("c"), C("http://schema.org/name"), V("name")),
      (V("c"), C("http://schema.org/nation"), V("nat")),
      (V("nat"), C("http://schema.org/name"), V("nat_name")))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = bgp(g, pats)
      val plan = out.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"expected at most the one acc-side shuffle for the ?nat join, got $exchanges:\n$plan")
      val got = out.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set(("http://x/p1", "Ann", "http://x/n1", "Norway")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("ExtractMain --subject-table → QueryMain --table: the bucketed layout end-to-end via both CLIs") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p9"><span itemprop="name">Zoe</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val base = java.nio.file.Files.createTempDirectory("gq_em_cli_").toString
    turns.write.mode("overwrite").parquet(s"$base/turns")
    // main() borrows the active test session (never stops it)
    graft.ExtractMain.main(Array(
      "--input", s"$base/turns", "--output", s"$base/tbl_data",
      "--subject-table", "em_subj_cli", "--buckets", "4"))
    assert(!spark.sparkContext.isStopped, "borrowed session must survive main()")
    val n = graft.QueryMain.run(Array(
      "--table", "em_subj_cli", "--output", s"$base/out",
      "--pattern", "?p <http://schema.org/name> ?name"), spark)
    assert(n == 1L)
    val rows = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("http://x/p9", "Zoe")))
  }

  test("CliArgs: a following --token is never consumed as a value; trailing key errors clearly") {
    val e = intercept[RuntimeException](graft.CliArgs.parse(
      Array("--graph", "g", "--output", "o", "--pattern", "--entail"),
      flags = Set("entail"), repeatKeys = Set("pattern")))
    assert(e.getMessage.contains("missing value for --pattern"), e.getMessage)
    val e2 = intercept[RuntimeException](graft.CliArgs.parse(Array("--graph")))
    assert(e2.getMessage.contains("missing value for --graph"), e2.getMessage)
    // flags and ordinary values still parse
    val (m, repeated) = graft.CliArgs.parse(
      Array("--entail", "--graph", "g", "--pattern", "?a <p> ?b"),
      flags = Set("entail"), repeatKeys = Set("pattern"))
    val reps = repeated("pattern")
    assert(m("entail") == "true" && m("graph") == "g" && reps == Vector("?a <p> ?b"))
  }

  test("loadGraph: corrupt layout metadata degrades to no-pruning, graph stays queryable") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val dir = java.nio.file.Files.createTempDirectory("gq_corrupt_").toString
    ExtractPipeline.writeGraph(ExtractPipeline.extract(turns), dir, predBuckets = 8)
    // simulate a writer killed mid-write on a filesystem without rename
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ExtractPipeline.LayoutFile), "{\"pred_buck")
    val g = GraphQuery.loadGraph(spark, dir)
    assert(g.predBuckets == 0) // degraded like missing metadata
    val out = bgp(g, Seq((V("p"), C("http://schema.org/name"), V("v"))))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("http://x/p1", "Ann")))
  }

  test("QueryMain --entail: derived predicate becomes matchable at query time") {
    import graft.model.Triple
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    // the schema edge lives IN the graph (the reference's Expansion reads
    // rules from the parsed repository the same way)
    val edge = Seq(Triple("http://schema.org/name", graft.spark.Entailment.SubPropertyOf,
      "http://x/label", null, null, null, "schema", -1)).toDS()
    val base = java.nio.file.Files.createTempDirectory("gq_entail_").toString
    ExtractPipeline.writeGraph(
      ExtractPipeline.extract(turns).unionByName(edge), s"$base/graph", predBuckets = 8)
    val pat = Array("--graph", s"$base/graph", "--output", s"$base/out",
      "--pattern", "?p <http://x/label> ?v")
    // without --entail the derived predicate does not exist
    assert(graft.QueryMain.run(pat, spark) == 0L)
    // with --entail the subPropertyOf closure materializes it
    val n = graft.QueryMain.run(pat ++ Array("--entail"), spark)
    assert(n == 1L)
    val rows = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("http://x/p1", "Ann")))
  }

  test("bgp: driver-shaped 4-pattern query matches hand computation on extracted triples") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span><link itemprop="nation" href="http://x/n1"/></div>"""),
      ("c2", 0, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/n1"><span itemprop="name">Norway</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.extract(turns).toDF()
    val out = bgp(GraphQuery.PersistedGraph(triples, 0, Map.empty), Seq(
      (V("p"), C(TypeP), C("http://schema.org/Person")),
      (V("p"), C("http://schema.org/name"), V("name")),
      (V("p"), C("http://schema.org/nation"), V("nat")),
      (V("nat"), C("http://schema.org/name"), V("nat_name"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(("http://x/p1", "Ann", "http://x/n1", "Norway")))
  }

  private def pathGraph(rows: (String, String)*): GraphQuery.PersistedGraph =
    GraphQuery.PersistedGraph(
      rows.map { case (s, o) => (s, "boss", o, null: String) }
        .toDF("subj", "pred", "obj_iri", "obj_lexical"),
      0, Map.empty)

  test("pathPlus: chain closes to all ancestor pairs") {
    val out = GraphQuery.pathPlus(pathGraph("a" -> "b", "b" -> "c", "c" -> "d"), "boss")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d"))
  }

  test("pathPlus: diamond reconverges without duplicate pairs") {
    val df = GraphQuery.pathPlus(
      pathGraph("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d"), "boss")
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == rows.distinct.length)
    assert(rows.toSet ==
      Set("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "d", "c" -> "d"))
  }

  test("pathPlus: cycle terminates with the full strongly-connected closure") {
    val out = GraphQuery.pathPlus(pathGraph("a" -> "b", "b" -> "c", "c" -> "a"), "boss")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // every node reaches every node, including itself through the cycle
    assert(out == (for { x <- Set("a", "b", "c"); y <- Set("a", "b", "c") } yield (x, y)))
  }

  test("pathPlusAlt: a hop may take any listed predicate, others stay out") {
    val df = Seq(
      ("a", "boss", "b", null: String),
      ("b", "deputy", "c", null: String),  // alternation bridges boss→deputy
      ("c", "knows", "d", null: String))   // knows is NOT listed
      .toDF("subj", "pred", "obj_iri", "obj_lexical")
    val out = GraphQuery.pathPlusAlt(
        GraphQuery.PersistedGraph(df, 0, Map.empty), Seq("boss", "deputy"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set("a" -> "b", "b" -> "c", "a" -> "c"))
  }

  test("pathPlus: other predicates never leak into the closure") {
    val df = Seq(
      ("a", "boss", "b", null: String),
      ("b", "knows", "c", null: String),
      ("b", "boss", "d", null: String))
      .toDF("subj", "pred", "obj_iri", "obj_lexical")
    val out = GraphQuery.pathPlus(GraphQuery.PersistedGraph(df, 0, Map.empty), "boss")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set("a" -> "b", "a" -> "d", "b" -> "d"))
  }

  test("bgpOptional: unmatched optional keeps the row with NULL bindings") {
    // every Person binds; only p1/p2 know someone — d1 is not a Person so
    // absent; persons always know here, so drop the knows edge for p2
    val g = GraphQuery.PersistedGraph(
      graph.filter("NOT (subj = 'p2' AND pred = 'knows')"), 0, Map.empty)
    val out = GraphQuery.bgpOptional(g,
        required = Seq((V("x"), C(TypeP), C("Person"))),
        optionals = Seq(Seq((V("x"), C("knows"), V("y")))))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet
    assert(out == Set(("p1", "p2"), ("p2", null)))
  }

  test("bgpOptional: later group sees bindings from an earlier group") {
    // second optional joins on ?y bound by the FIRST optional: p1 knows
    // p2, and p2 has a name — sequential OPTIONAL, not independent
    val out = GraphQuery.bgpOptional(asGraph,
        required = Seq((V("x"), C(TypeP), C("Person"))),
        optionals = Seq(
          Seq((V("x"), C("knows"), V("y"))),
          Seq((V("y"), C("name"), V("n")))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(("p1", "p2", "Bob"), ("p2", "p1", "Ann")))
  }

  test("bgpOptional: SPARQL compatibility — an unbound shared var matches any binding") {
    // the chained idiom: p2 has no knows edge, so ?y is NULL after group
    // 1. SPARQL's rule: p2's unbound ?y is compatible with EVERY
    // (?y name ?n) solution and takes the match's binding; p1's bound
    // ?y=p2 hash-joins only Bob.
    val g = GraphQuery.PersistedGraph(
      graph.filter("NOT (subj = 'p2' AND pred = 'knows')"), 0, Map.empty)
    val out = GraphQuery.bgpOptional(g,
        required = Seq((V("x"), C(TypeP), C("Person"))),
        optionals = Seq(
          Seq((V("x"), C("knows"), V("y"))),
          Seq((V("y"), C("name"), V("n")))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("p1", "p2", "Bob"),                        // bound ?y joins normally
      ("p2", "p1", "Ann"), ("p2", "p2", "Bob")))  // unbound ?y: compatible with all
  }

  test("bgpOptional: unmatched row with an unbound var keeps NULLs through the compat join") {
    // drop p2's knows edge AND all names: group 2 has no solutions at
    // all, so both the bound and unbound slices keep their rows with ?n
    // (and p2's ?y) NULL
    val g = GraphQuery.PersistedGraph(
      graph.filter("NOT (subj = 'p2' AND pred = 'knows') AND pred <> 'name'"),
      0, Map.empty)
    val out = GraphQuery.bgpOptional(g,
        required = Seq((V("x"), C(TypeP), C("Person"))),
        optionals = Seq(
          Seq((V("x"), C("knows"), V("y"))),
          Seq((V("y"), C("name"), V("n")))))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(out == Set(("p1", "p2", null), ("p2", null, null)))
  }

  test("bgpOptional: a group sharing no variable is refused") {
    val e = intercept[IllegalArgumentException] {
      GraphQuery.bgpOptional(asGraph,
        required = Seq((V("x"), C(TypeP), C("Person"))),
        optionals = Seq(Seq((V("z"), C("name"), V("n")))))
    }
    assert(e.getMessage.contains("cartesian"))
  }

  test("bgpUnion: branches solve independently and union under set semantics") {
    val out = GraphQuery.bgpUnion(asGraph, Seq(
        Seq((V("x"), C(TypeP), C("Person"))),
        Seq((V("x"), C(TypeP), C("Doc"))),
        Seq((V("x"), C("likes"), V("x"))))) // p1 again — distinct collapses
      .collect().map(_.getString(0)).toSet
    assert(out == Set("p1", "p2", "d1"))
  }

  test("ask: true when a solution exists, false on an absent predicate") {
    assert(GraphQuery.ask(asGraph, Seq((V("x"), C(TypeP), C("Person")))))
    assert(!GraphQuery.ask(asGraph, Seq((V("x"), C("no-such-pred"), V("y")))))
  }

  test("construct: template triples from bindings, set semantics") {
    // both knows edges instantiate the template; the constant typing of
    // ?x dedups to the two distinct subjects
    val out = GraphQuery.construct(asGraph,
        patterns = Seq((V("x"), C("knows"), V("y"))),
        template = Seq(
          (V("y"), C("knownBy"), V("x")),
          (V("x"), C(TypeP), C("Knower"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("p2", "knownBy", "p1"), ("p1", "knownBy", "p2"),
      ("p1", TypeP, "Knower"), ("p2", TypeP, "Knower")))
  }

  test("construct: an unbound template variable is refused") {
    val e = intercept[IllegalArgumentException] {
      GraphQuery.construct(asGraph,
        patterns = Seq((V("x"), C("knows"), V("y"))),
        template = Seq((V("z"), C("p"), V("x"))))
    }
    assert(e.getMessage.contains("not bound"))
  }

  test("bgpMinus: rows with an agreeing minus solution are removed") {
    // persons minus those someone knows: p1 knows p2 and p2 knows p1, so
    // both vanish; d1 is not a Person — empty. Use a graph where only p2
    // is known.
    val g = GraphQuery.PersistedGraph(
      graph.filter("NOT (subj = 'p2' AND pred = 'knows')"), 0, Map.empty)
    val out = GraphQuery.bgpMinus(g,
        required = Seq((V("e"), C(TypeP), C("Person"))),
        minusGroups = Seq(Seq((V("x"), C("knows"), V("e")))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("p1")) // p2 is known (by p1) and drops
  }

  test("bgpMinus: a disjoint-domain minus group removes nothing (SPARQL MINUS rule)") {
    val out = GraphQuery.bgpMinus(asGraph,
        required = Seq((V("e"), C(TypeP), C("Person"))),
        minusGroups = Seq(Seq((V("a"), C("knows"), V("b")))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("p1", "p2"))
  }

  test("describe: returns every stored triple about the selected entities") {
    val out = GraphQuery.describe(asGraph,
        Seq((V("x"), C("knows"), C("p2"))), entityVar = "x")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // only p1 knows p2; ALL of p1's triples come back, nothing of p2's
    assert(out == Set(("p1", TypeP), ("p1", "name"), ("p1", "knows"), ("p1", "likes")))
  }

  test("describe: full literal columns survive (not the coalesced binding)") {
    val row = GraphQuery.describe(asGraph,
        Seq((V("x"), C("name"), C("Ann"))), entityVar = "x")
      .filter("pred = 'name'").collect().head
    assert(row.getString(2) == null && row.getString(3) == "Ann")
  }

  test("describe: an unbound describe variable is refused") {
    val e = intercept[IllegalArgumentException] {
      GraphQuery.describe(asGraph, Seq((V("x"), C("name"), V("n"))), entityVar = "z")
    }
    assert(e.getMessage.contains("not bound"))
  }

  test("describe: lineage-duplicate rows collapse (set semantics over a resumed table)") {
    // the same triple stored twice with different witness lineage — the
    // shape a Resume-written or streaming-sunk table holds
    val df = Seq(
      ("p1", "name", null: String, "Ann"),
      ("p1", "name", null: String, "Ann"),
      ("p1", "knows", "p2", null: String))
      .toDF("subj", "pred", "obj_iri", "obj_lexical")
    val out = GraphQuery.describe(GraphQuery.PersistedGraph(df, 0, Map.empty),
        Seq((V("x"), C("knows"), C("p2"))), entityVar = "x")
      .collect()
    assert(out.length == 2) // name once, knows once
  }

  test("bgpUnion: an empty branch contributes nothing, the union still solves") {
    val out = GraphQuery.bgpUnion(asGraph, Seq(
        Seq((V("x"), C("no-such-pred"), V("y"))),
        Seq((V("x"), C(TypeP), C("Doc")))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("d1"))
  }

  test("construct: an empty binding set yields an empty frame, not an error") {
    val out = GraphQuery.construct(asGraph,
      patterns = Seq((V("x"), C("no-such-pred"), V("y"))),
      template = Seq((V("x"), C("p"), V("y"))))
    assert(out.isEmpty)
  }

  test("bgpUnion: a variable bound in one branch is NULL in the others") {
    val out = GraphQuery.bgpUnion(asGraph, Seq(
        Seq((V("x"), C(TypeP), C("Doc"))),
        Seq((V("x"), C("name"), V("n")))))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet
    assert(out == Set(("d1", null), ("p1", "Ann"), ("p2", "Bob")))
  }

  // ------------------------------------------------------------------
  // property-path algebra
  // ------------------------------------------------------------------
  import GraphQuery.Path

  // a small org: a,b report to m; m reports to ceo; names on everyone
  private def orgGraph = GraphQuery.PersistedGraph(Seq(
      ("a", "boss", "m", null),
      ("b", "boss", "m", null),
      ("m", "boss", "ceo", null),
      ("a", "name", null, "Ann"),
      ("b", "name", null, "Bob"),
      ("m", "name", null, "Mia"),
      ("ceo", "name", null, "Zed"))
    .toDF("subj", "pred", "obj_iri", "obj_lexical"), 0, Map.empty)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("evalPath: atomic step includes literal-terminal edges") {
    assert(pairs(GraphQuery.evalPath(orgGraph, Path.P("name"))) ==
      Set("a" -> "Ann", "b" -> "Bob", "m" -> "Mia", "ceo" -> "Zed"))
  }

  test("evalPath: inverse traverses object to subject") {
    assert(pairs(GraphQuery.evalPath(orgGraph, Path.Inv(Path.P("boss")))) ==
      Set("m" -> "a", "m" -> "b", "ceo" -> "m"))
  }

  test("evalPath: sequence chains hops (manager's name)") {
    assert(pairs(GraphQuery.evalPath(orgGraph,
        Path.Chain(Seq(Path.P("boss"), Path.P("name"))))) ==
      Set("a" -> "Mia", "b" -> "Mia", "m" -> "Zed"))
  }

  test("evalPath: plus inside a sequence (all managers' names)") {
    assert(pairs(GraphQuery.evalPath(orgGraph,
        Path.Chain(Seq(Path.Plus(Path.P("boss")), Path.P("name"))))) ==
      Set("a" -> "Mia", "a" -> "Zed", "b" -> "Mia", "b" -> "Zed", "m" -> "Zed"))
  }

  test("evalPath: alternation unions branches (undirected adjacency)") {
    assert(pairs(GraphQuery.evalPath(orgGraph,
        Path.Alt(Seq(Path.P("boss"), Path.Inv(Path.P("boss")))))) ==
      Set("a" -> "m", "b" -> "m", "m" -> "ceo",
        "m" -> "a", "m" -> "b", "ceo" -> "m"))
  }

  test("evalPath: star with both endpoints unbound adds every graph node's zero-length pair") {
    val out = pairs(GraphQuery.evalPath(orgGraph, Path.Star(Path.P("boss"))))
    val nodes = Set("a", "b", "m", "ceo", "Ann", "Bob", "Mia", "Zed")
    assert(out == nodes.map(n => n -> n) ++
      Set("a" -> "m", "b" -> "m", "m" -> "ceo", "a" -> "ceo", "b" -> "ceo"))
  }

  test("evalPath: opt is one step or identity") {
    val out = pairs(GraphQuery.evalPath(orgGraph, Path.Opt(Path.P("boss"))))
    val nodes = Set("a", "b", "m", "ceo", "Ann", "Bob", "Mia", "Zed")
    assert(out == nodes.map(n => n -> n) ++
      Set("a" -> "m", "b" -> "m", "m" -> "ceo"))
  }

  test("evalPath: negated set excludes listed predicates, keeps the rest") {
    assert(pairs(GraphQuery.evalPath(orgGraph, Path.notOneOf("name"))) ==
      Set("a" -> "m", "b" -> "m", "m" -> "ceo"))
  }

  test("evalPath: negated-set wildcard matches any one forward edge") {
    val out = pairs(GraphQuery.evalPath(orgGraph, Path.wildcard))
    assert(out.size == 7 && out.contains("a" -> "m") && out.contains("a" -> "Ann"))
  }

  test("evalPath: mixed negated set takes both directions") {
    val out = pairs(GraphQuery.evalPath(orgGraph,
      Path.NegSet(forward = Some(Seq("name", "boss")), inverse = Some(Seq("name")))))
    assert(out == Set("m" -> "a", "m" -> "b", "ceo" -> "m"))
  }

  test("bgpWithPaths: bound-source star explores only the reachable cone plus self") {
    val out = bgp(orgGraph, Seq((C("a"), Path.Star(Path.P("boss")), V("anc"))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("a", "m", "ceo"))
  }

  test("bgpWithPaths: bound-target plus explores the reverse cone") {
    val out = bgp(orgGraph, Seq((V("e"), Path.Plus(Path.P("boss")), C("ceo"))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("a", "b", "m"))
  }

  test("bgpWithPaths: path and triple patterns join on shared variables") {
    // peers = same manager (includes self); name comes from a triple pattern
    val out = bgp(orgGraph, Seq(
        (V("e"), C("name"), V("n")),
        (V("e"), Path.Chain(Seq(Path.P("boss"), Path.Inv(Path.P("boss")))), V("peer"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("a", "Ann", "a"), ("a", "Ann", "b"), ("b", "Bob", "a"), ("b", "Bob", "b"),
      ("m", "Mia", "m")))
  }

  test("bgpWithPaths: repeated variable on a path pattern filters to fixpoints") {
    val cyc = GraphQuery.PersistedGraph(Seq(
        ("x", "next", "y", null), ("y", "next", "x", null), ("y", "next", "z", null))
      .toDF("subj", "pred", "obj_iri", "obj_lexical"), 0, Map.empty)
    val out = bgp(cyc, Seq((V("n"), Path.Plus(Path.P("next")), V("n"))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("x", "y")) // z is reachable but not on the cycle
  }

  test("bgpWithPaths: disconnected path pattern is refused") {
    val e = intercept[IllegalArgumentException] {
      bgp(orgGraph, Seq((V("x"), C(TypeP), C("Person")), (V("a"), Path.P("boss"), V("b"))))
    }
    assert(e.getMessage.contains("cartesian"))
  }

  test("ask: a path pattern in the predicate slot") {
    // a reaches ceo (named Zed) over boss+; ceo reports to no one; m's
    // managers never include Ann
    assert(GraphQuery.ask(orgGraph, Seq(
      (C("a"), Path.Plus(Path.P("boss")), V("x")), (V("x"), C("name"), C("Zed")))))
    assert(!GraphQuery.ask(orgGraph, Seq((C("ceo"), Path.Plus(Path.P("boss")), V("x")))))
    assert(!GraphQuery.ask(orgGraph, Seq(
      (C("m"), Path.Plus(Path.P("boss")), V("x")), (V("x"), C("name"), C("Ann")))))
  }

  test("a path outside the predicate slot is refused, never matched") {
    val boss = Path.Plus(Path.P("boss"))
    Seq[Seq[(GraphQuery.Term, GraphQuery.Term, GraphQuery.Term)]](
      Seq((boss, C("name"), V("n"))),
      Seq((V("e"), C("boss"), boss)),
      Seq((V("e"), C("name"), V("n")), (V("e"), C("boss"), boss))).foreach { q =>
      val e = intercept[IllegalArgumentException](bgp(orgGraph, q))
      assert(e.getMessage.contains("only be a pattern's predicate"), q)
    }
    val t = intercept[IllegalArgumentException](GraphQuery.construct(orgGraph,
      Seq((V("e"), C("boss"), V("m"))), Seq((V("e"), boss, V("m")))))
    assert(t.getMessage.contains("CONSTRUCT template"))
  }

  test("evalPath: plus matches pathPlus on an IRI-only slice") {
    val g = pathGraph("a" -> "b", "b" -> "c", "c" -> "d")
    assert(pairs(GraphQuery.evalPath(g, Path.Plus(Path.P("boss")))) ==
      pairs(GraphQuery.pathPlus(g, "boss")))
  }

  // a seeded closure extends its paths one hop per round: a 70-hop chain
  // is still live after the 64-round cap on either strategy
  private def chain70 = pathGraph((0 until 70).map(i => s"a$i" -> s"a${i + 1}"): _*)
  private def throwsOnBothStrategies(closure: => Long): Unit =
    Seq(AdaptiveStrategy.Limits.Production -> "single-task",
        AdaptiveStrategy.Limits.ForceDistributed -> "distributed").foreach { case (l, strategy) =>
      val (e, _) = AdaptiveStrategy.withLimits(l)(intercept[IllegalStateException](closure))
      assert(e.getMessage.contains("frontier still live"), strategy)
    }

  test("evalPath: bound-source closure still throws on a live frontier") {
    throwsOnBothStrategies(bgp(chain70, Seq((C("a0"), Path.Plus(Path.P("boss")), V("x")))).count())
  }

  test("pathPlusIncremental: a live frontier throws instead of truncating") {
    val none = spark.emptyDataset[(String, String)].toDF("s", "o")
    throwsOnBothStrategies(GraphQuery.pathPlusIncremental(none,
      GraphQuery.evalPath(chain70, Path.P("boss"))).count())
  }

  // ------------------------------------------------------------------
  // incremental transitive closure
  // ------------------------------------------------------------------

  private def edgeDf(rows: (String, String)*) =
    rows.toDF("s", "o")

  test("pathPlusIncremental: extending a chain equals the from-scratch closure") {
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "b" -> "c"))
    val out = pairs(GraphQuery.pathPlusIncremental(closed, edgeDf("c" -> "d")))
    val scratch = pairs(GraphQuery.closePairs(
      edgeDf("a" -> "b", "b" -> "c", "c" -> "d")))
    assert(out == scratch)
    assert(out.contains("a" -> "d")) // old prefix ∘ new edge
  }

  test("pathPlusIncremental: a bridge between two old components closes across it") {
    // two closed chains a→b and c→d; the delta bridges b→c
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "c" -> "d"))
    val out = pairs(GraphQuery.pathPlusIncremental(closed, edgeDf("b" -> "c")))
    assert(out == pairs(GraphQuery.closePairs(
      edgeDf("a" -> "b", "c" -> "d", "b" -> "c"))))
    assert(out.contains("a" -> "d")) // old ∘ new ∘ old
  }

  test("pathPlusIncremental: alternating old/new hops and a delta-only component") {
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "c" -> "d"))
    val delta = edgeDf("b" -> "c", "d" -> "e", "x" -> "y") // x→y is new territory
    val out = pairs(GraphQuery.pathPlusIncremental(closed, delta))
    assert(out == pairs(GraphQuery.closePairs(
      edgeDf("a" -> "b", "c" -> "d", "b" -> "c", "d" -> "e", "x" -> "y"))))
    assert(out.contains("a" -> "e") && out.contains("x" -> "y"))
  }

  test("pathPlusIncremental: an empty delta returns the standing closure") {
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "b" -> "c"))
    val out = pairs(GraphQuery.pathPlusIncremental(closed, edgeDf()))
    assert(out == pairs(closed))
  }

  test("pathPlusIncremental: a cycle-creating delta closes the strongly-connected set") {
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "b" -> "c"))
    val out = pairs(GraphQuery.pathPlusIncremental(closed, edgeDf("c" -> "a")))
    assert(out == pairs(GraphQuery.closePairs(
      edgeDf("a" -> "b", "b" -> "c", "c" -> "a"))))
    assert(out.contains("a" -> "a"))
  }

  // ------------------------------------------------------------------
  // path surface syntax (PathParser) and the CLI route
  // ------------------------------------------------------------------

  test("PathParser: precedence — alternation over sequence over unary") {
    assert(PathParser.parse("<a>/<b>|<c>+") ==
      Path.Alt(Seq(Path.Chain(Seq(Path.P("a"), Path.P("b"))), Path.Plus(Path.P("c")))))
    assert(PathParser.parse("^<a>/<b>") ==
      Path.Chain(Seq(Path.Inv(Path.P("a")), Path.P("b"))))
    assert(PathParser.parse("(<a>|<b>)*") ==
      Path.Star(Path.Alt(Seq(Path.P("a"), Path.P("b")))))
    assert(PathParser.parse("^(<a>/<b>)") ==
      Path.Inv(Path.Chain(Seq(Path.P("a"), Path.P("b")))))
    assert(PathParser.parse("<a>?") == Path.Opt(Path.P("a")))
  }

  test("PathParser: negated sets split by direction") {
    assert(PathParser.parse("!(<a>|^<b>|<c>)") ==
      Path.NegSet(Some(Seq("a", "c")), Some(Seq("b"))))
    assert(PathParser.parse("!(^<b>)") == Path.NegSet(None, Some(Seq("b"))))
  }

  test("PathParser: malformed input is rejected with position info") {
    intercept[IllegalArgumentException](PathParser.parse("<a>/"))
    intercept[IllegalArgumentException](PathParser.parse("(<a>"))
    intercept[IllegalArgumentException](PathParser.parse("<a>+*"))
    intercept[IllegalArgumentException](PathParser.parse("!()"))
    intercept[IllegalArgumentException](PathParser.parse("<>"))
  }

  test("PathParser.isPathExpr: operators outside <> dispatch, plain terms do not") {
    assert(PathParser.isPathExpr("<a>+"))
    assert(PathParser.isPathExpr("^<a>"))
    assert(PathParser.isPathExpr("<a>/<b>"))
    assert(!PathParser.isPathExpr("<http://ex.org/with|pipe>"))
    assert(!PathParser.isPathExpr("?v"))
    assert(!PathParser.isPathExpr("<http://schema.org/name>"))
  }

  test("QueryMain CLI: a path expression in the predicate slot routes to bgpWithPaths") {
    val base = java.nio.file.Files.createTempDirectory("gq_cli_path_").toString
    val triples = Seq(
      ("a", "boss", "m", null),
      ("m", "boss", "ceo", null),
      ("a", "name", null, "Ann"),
      ("m", "name", null, "Mia"),
      ("ceo", "name", null, "Zed"))
      .toDF("subj", "pred", "obj_iri", "obj_lexical")
      .withColumn("obj_datatype", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("obj_lang", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("conv_id", org.apache.spark.sql.functions.lit("c"))
      .withColumn("turn_idx", org.apache.spark.sql.functions.lit(0))
      .as[graft.model.Triple]
    ExtractPipeline.writeGraph(triples, s"$base/graph", predBuckets = 4)
    // all transitive managers' names of a
    val n = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out",
      "--pattern", "?e <name> ?en",
      "--pattern", "?e <boss>+/<name> ?mn"), spark)
    assert(n == 3L)
    val rows = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("a", "Ann", "Mia"), ("a", "Ann", "Zed"), ("m", "Mia", "Zed")))
    // DESCRIBE over a path selector: a and m reach ceo over boss+
    val d = graft.QueryMain.run(Array(
      "--graph", s"$base/graph", "--output", s"$base/out2", "--describe", "e",
      "--pattern", "?e <boss>+ <ceo>"), spark)
    assert(d == 4L)
    assert(spark.read.parquet(s"$base/out2").collect()
      .map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"),
        Option(r.getAs[String]("obj_iri")).getOrElse(r.getAs[String]("obj_lexical")))).toSet ==
      Set(("a", "boss", "m"), ("a", "name", "Ann"), ("m", "boss", "ceo"), ("m", "name", "Mia")))
  }

  /** [[orgGraph]] written as a `writeGraph` dir, for the CLI. */
  private def persistedOrgGraph(): String = {
    val dir = java.nio.file.Files.createTempDirectory("gq_cli_org_").toString + "/graph"
    import org.apache.spark.sql.functions.lit
    ExtractPipeline.writeGraph(orgGraph.df
      .withColumn("obj_datatype", lit(null).cast("string"))
      .withColumn("obj_lang", lit(null).cast("string"))
      .withColumn("conv_id", lit("c"))
      .withColumn("turn_idx", lit(0))
      .as[graft.model.Triple], dir, predBuckets = 4)
    dir
  }

  private def cliRows(args: String*): Set[Seq[String]] = {
    val out = java.nio.file.Files.createTempDirectory("gq_cli_out_").toString + "/out"
    val n = graft.QueryMain.run((args ++ Seq("--output", out)).toArray, spark)
    val rows = spark.read.parquet(out).collect().map(_.toSeq.map(v => if (v == null) null else v.toString))
    assert(n == rows.length.toLong)
    rows.toSet
  }

  test("QueryMain CLI: a path inside --optional and inside --minus") {
    val graph = persistedOrgGraph()
    // every employee's transitive managers, NULL for the top
    assert(cliRows("--graph", graph, "--pattern", "?e <name> ?n",
        "--optional", "?e <boss>+ ?m") == Set(
      Seq("a", "Ann", "m"), Seq("a", "Ann", "ceo"), Seq("b", "Bob", "m"), Seq("b", "Bob", "ceo"),
      Seq("m", "Mia", "ceo"), Seq("ceo", "Zed", null)))
    // minus everyone someone reports to (^boss): m and ceo go
    assert(cliRows("--graph", graph, "--pattern", "?e <name> ?n",
        "--minus", "?e ^<boss> ?r") == Set(Seq("a", "Ann"), Seq("b", "Bob")))
  }

  test("QueryMain CLI: a path token outside the predicate slot is refused") {
    val graph = persistedOrgGraph()
    Seq("<boss>+ <name> ?n", "?e <name> ^<boss>").foreach { p =>
      val e = intercept[RuntimeException](cliRows("--graph", graph, "--pattern", p))
      assert(e.getMessage.contains("cannot parse term"), p)
    }
  }
}
