package graft

import graft.model.Triple
import graft.spark.{AdaptiveStrategy, ExtractPipeline, GraphLayout, GraphQuery, JobFence, SparkTestSession}
import graft.spark.AdaptiveStrategy.{Decision, Limits}
import graft.spark.GraphQuery.{C, Path, V}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per `QueryMain.run` on a persisted [[ExtractPipeline.writeGraph]]
  * graph, by query kind: opening the graph is a metadata read, a path
  * closure sized from the layout's stats runs with no probe, and the sides
  * of a semi- or anti-join are not deduplicated. Each kind's answer is
  * checked next to its job count.
  */
class QueryJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val S = "http://schema.org/"
  private val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  private val ReportsTo = "http://ex.org/reportsTo"
  private def emp(i: Int) = s"http://ex.org/e$i"
  private def person(i: Int) = s"http://ex.org/p$i"
  private def org(i: Int) = s"http://ex.org/o$i"
  private def iri(s: String) = s"<$s>"

  /** Employee i reports to (i - 1) / 2: a binary tree of 31 nodes, depth 4. */
  private val Employees = 31
  private def parent(i: Int) = (i - 1) / 2

  private def fact(s: String, p: String, o: String) = Triple(s, p, o, null, null, null, "c", 0)
  private def literal(s: String, p: String, v: String) = Triple(s, p, null, v, null, null, "c", 0)

  private lazy val triples: Seq[Triple] =
    (0 until 20).flatMap { i =>
      Seq(fact(person(i), Rdf, S + "Person"), literal(person(i), S + "name", s"Person $i"),
        literal(person(i), S + "email", s"p$i@ex.org"), fact(person(i), S + "worksFor", org(i % 3)),
        // p1 knows three people: a selector on knows binds it three times
        fact(person(i), S + "knows", person((i + 1) % 20)))
    } ++ Seq(fact(person(1), S + "knows", person(5)), fact(person(1), S + "knows", person(7)),
      // the same statement from a second turn: a lineage-keeping table
      // stores it twice, so a selector on it binds p1 twice
      Triple(person(1), S + "email", null, "p1@ex.org", null, null, "c", 1)) ++
      (1 until Employees).map(i => fact(emp(i), ReportsTo, emp(parent(i)))) ++
      // managers carry a title; e3 carries two, so a MINUS group matches it twice
      (0 until Employees / 2).map(i => literal(emp(i), S + "jobTitle", "Manager")) :+
      literal(emp(3), S + "jobTitle", "Lead")

  private lazy val base = java.nio.file.Files.createTempDirectory("query_jobs_").toString
  private lazy val graphDir = {
    ExtractPipeline.writeGraph(triples.toDS(), s"$base/graph", predBuckets = 8)
    s"$base/graph"
  }
  private lazy val table = {
    ExtractPipeline.writeGraphBucketedBySubject(triples.toDS(), "query_jobs_subj", buckets = 4,
      path = s"$base/table")
    "query_jobs_subj"
  }

  private def jobsOf[A](body: => A): (A, JobFence.Jobs) = JobFence.jobsBySite(spark)(body)

  /** One query kind: QueryMain arguments (no source, no output; "ask" runs
    * through the API instead), with its expected answer rows.
    */
  private final case class Kind(name: String, budget: Int, args: Seq[String],
                                expected: Set[Seq[String]])

  private lazy val kinds = Seq(
    Kind("bgp_lookup", 2, Seq("--pattern", s"${iri(person(4))} ${iri(S + "name")} ?n"),
      Set(Seq("Person 4"))),
    Kind("ask", 2, Nil, Set(Seq("true"))),
    Kind("path", 2, Seq("--pattern", s"${iri(emp(29))} ${iri(ReportsTo)}+ ?m"),
      Set(14, 6, 2, 0).map(i => Seq(emp(i)))),
    Kind("describe", 3, Seq("--describe", "p", "--pattern", s"?p ${iri(S + "email")} ${"\"p1@ex.org\""}"),
      Set(Seq(person(1), Rdf, S + "Person"), Seq(person(1), S + "name", "Person 1"),
        Seq(person(1), S + "email", "p1@ex.org"), Seq(person(1), S + "worksFor", org(1)),
        Seq(person(1), S + "knows", person(2)), Seq(person(1), S + "knows", person(5)),
        Seq(person(1), S + "knows", person(7)))),
    Kind("optional", 4, Seq("--pattern", s"?e ${iri(ReportsTo)} ${iri(emp(1))}",
        "--optional", s"?e ${iri(S + "jobTitle")} ?t"),
      Set(Seq(emp(3), "Manager"), Seq(emp(3), "Lead"), Seq(emp(4), "Manager"))),
    Kind("minus", 3, Seq("--pattern", s"?e ${iri(ReportsTo)} ${iri(emp(7))}",
        "--minus", s"?e ${iri(S + "jobTitle")} ?t"),
      Set(Seq(emp(15)), Seq(emp(16)))),
    Kind("bgp_star", 4, Seq("--pattern", s"?p ${iri(Rdf)} ${iri(S + "Person")}",
        "--pattern", s"?p ${iri(S + "name")} ?n", "--pattern", s"?p ${iri(S + "worksFor")} ${iri(org(2))}"),
      (0 until 20).filter(_ % 3 == 2).map(i => Seq(person(i), s"Person $i")).toSet))

  /** The measured call of one kind against `dir` (bgp_star: the subject
    * table): QueryMain's reported row count, or ASK's answer as 1/0.
    */
  private def query(k: Kind, dir: String, out: String): Long = k.name match {
    case "ask" =>
      val g = GraphQuery.loadGraph(spark, dir)
      if (GraphQuery.ask(g, Seq((C(emp(29)), C(ReportsTo), V("m")),
        (V("m"), C(ReportsTo), C(emp(6)))))) 1L else 0L
    case name =>
      val source = if (name == "bgp_star") Seq("--table", table) else Seq("--graph", dir)
      QueryMain.run((k.args ++ source ++ Seq("--output", out)).toArray, spark)
  }

  /** The answer rows `query` left behind; DESCRIBE rows are (subj, pred, obj). */
  private def answer(k: Kind, out: String, n: Long): Set[Seq[String]] =
    if (k.name == "ask") (if (n == 1L) Set(Seq("true")) else Set.empty)
    else {
      val df = spark.read.parquet(out)
      val rows = (if (k.name == "describe")
          df.selectExpr("subj", "pred", "coalesce(obj_iri, obj_lexical)") else df)
        .collect().map(_.toSeq.map(v => String.valueOf(v))).toSeq
      assert(rows.size == n && rows.distinct.size == rows.size, s"${k.name}: set semantics")
      rows.toSet
    }

  private def runKind(k: Kind, dir: String, out: String): Set[Seq[String]] =
    answer(k, out, query(k, dir, out))

  test("QueryMain: every query kind stays within its job budget and answers correctly") {
    kinds.foreach { k =>
      val out = s"$base/out_${k.name}"
      runKind(k, graphDir, out) // warm-up: first plans of the JVM
      val (n, jobs) = jobsOf(query(k, graphDir, out))
      assert(answer(k, out, n) == k.expected, k.name)
      assert(jobs.total <= k.budget, s"${k.name}: budget ${k.budget}, $jobs")
    }
  }

  test("loadGraph: a recorded schema opens with no job; a layout without one infers it, same answers") {
    val (_, open) = jobsOf(GraphQuery.loadGraph(spark, graphDir))
    assert(open.total == 0, open)
    val copy = s"$base/graph_no_schema"
    ExtractPipeline.writeGraph(triples.toDS(), copy, predBuckets = 8)
    val layout = GraphLayout.read(spark, copy).get
    assert(layout.schema.isDefined && layout.stats.isDefined && layout.predBuckets == 8)
    GraphLayout.write(spark, copy, layout.copy(schema = None))
    val (g, jobs) = jobsOf(GraphQuery.loadGraph(spark, copy))
    assert(jobs.total >= 1, s"schema inference runs a job: $jobs")
    assert(g.predBuckets == 8 && g.df.schema == GraphQuery.loadGraph(spark, graphDir).df.schema)
    kinds.filter(_.name != "bgp_star").foreach { k =>
      assert(runKind(k, copy, s"$base/out_inferred_${k.name}") == k.expected, k.name)
    }
  }

  test("a stats-admitted closure whose slice outgrows the edge limit falls back, same answer") {
    val g = GraphQuery.loadGraph(spark, graphDir)
    val edges = Employees - 1L
    assert(g.stats(ReportsTo) == edges, "the layout's count is exact for a constant-predicate slice")
    val seeded = Seq((C(emp(29)), Path.Plus(Path.P(ReportsTo)), V("m")))
    val full = Seq((V("e"), Path.Plus(Path.Inv(Path.P(ReportsTo))), V("m")))
    def answer(graph: GraphQuery.PersistedGraph, q: Seq[(GraphQuery.Term, Path, GraphQuery.Term)]) =
      GraphQuery.bgp(graph, q).collect().map(_.toSeq).toSet
    val limit = 8L
    val small = Limits.Production.copy(closureEdges = limit)
    Seq(seeded, full).foreach { q =>
      val exact = answer(g, q)
      // stats that under-report the slice (stale, or another table's) admit
      // it; the task counts the hop rows it reads and overflows
      Seq(g.stats + (ReportsTo -> 3L), g.stats - ReportsTo).foreach { stats =>
        val (out, ds) = AdaptiveStrategy.withLimits(small)(answer(g.copy(stats = stats), q))
        assert(out == exact)
        assert(ds.map(d => (d.strategy, d.fallback)) == Seq(("distributed", true)), ds)
        assert(ds.head.size == stats.getOrElse(ReportsTo, 0L) && ds.head.limit == limit)
      }
      // exact stats over the limit: distributed without an in-task attempt
      val (out, ds) = AdaptiveStrategy.withLimits(small)(answer(g, q))
      assert(out == exact)
      assert(ds.map(d => (d.strategy, d.fallback, d.size)) == Seq(("distributed", false, edges)), ds)
      // and within it: one task, admitted on the layout's count
      val (_, ok) = AdaptiveStrategy.withLimits(Limits.Production)(answer(g, q))
      assert(ok == Seq(Decision(ok.head.engine, edges, Limits.Production.closureEdges,
        "single-task", fallback = false)))
    }
    assert(answer(g, seeded) == Set(14, 6, 2, 0).map(i => Seq(emp(i))))
  }

  test("DESCRIBE and MINUS keep set semantics over duplicated selector and group solutions") {
    val g = GraphQuery.loadGraph(spark, graphDir)
    // p1 is bound once per person it knows (three times)
    val described = GraphQuery.describe(g, Seq((V("p"), C(S + "knows"), V("x"))), "p")
      .filter($"subj" === person(1))
      .selectExpr("subj", "pred", "coalesce(obj_iri, obj_lexical)").collect().map(_.toSeq)
    assert(described.length == described.distinct.length)
    assert(described.toSet == kinds.find(_.name == "describe").get.expected)
    // e3 matches the minus group twice (two titles), e4 once: both go
    val kept = GraphQuery.bgpMinus(g, Seq((V("e"), C(ReportsTo), C(emp(1)))),
      Seq(Seq((V("e"), C(S + "jobTitle"), V("t"))))).collect().map(_.getString(0))
    assert(kept.isEmpty)
    val rows = GraphQuery.bgpMinus(g, Seq((V("e"), C(ReportsTo), V("m"))),
      Seq(Seq((V("e"), C(S + "jobTitle"), V("t"))))).collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == rows.distinct.length)
    assert(rows.toSet == (Employees / 2 until Employees).map(i => (emp(i), emp(parent(i)))).toSet)
  }
}
