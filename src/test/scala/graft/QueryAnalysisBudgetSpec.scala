package graft

import graft.model.Triple
import graft.spark.{AnalysisCount, ExtractPipeline, GraphQuery, SparkTestSession}
import graft.spark.GraphQuery.{C, V}
import org.scalatest.funsuite.AnyFunSuite

/** Catalyst analyses per `QueryMain.run` on [[QueryJobBudgetSpec]]'s
  * fixture graph, by query kind: each query form builds one logical plan
  * and wraps it in a Dataset once, so a call analyzes the graph open, that
  * plan and the write — not every intermediate Dataset of a chain. The
  * path kind also pays the closure's own frames.
  */
class QueryAnalysisBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val S = "http://schema.org/"
  private val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  private val ReportsTo = "http://ex.org/reportsTo"
  private def emp(i: Int) = s"http://ex.org/e$i"
  private def person(i: Int) = s"http://ex.org/p$i"
  private def org(i: Int) = s"http://ex.org/o$i"
  private def iri(s: String) = s"<$s>"
  private def fact(s: String, p: String, o: String) = Triple(s, p, o, null, null, null, "c", 0)
  private def literal(s: String, p: String, v: String) = Triple(s, p, null, v, null, null, "c", 0)

  /** The job spec's graph: 20 persons, a 31-employee reportsTo tree, titles. */
  private lazy val triples: Seq[Triple] =
    (0 until 20).flatMap { i =>
      Seq(fact(person(i), Rdf, S + "Person"), literal(person(i), S + "name", s"Person $i"),
        literal(person(i), S + "email", s"p$i@ex.org"), fact(person(i), S + "worksFor", org(i % 3)),
        fact(person(i), S + "knows", person((i + 1) % 20)))
    } ++ Seq(fact(person(1), S + "knows", person(5)), fact(person(1), S + "knows", person(7)),
      Triple(person(1), S + "email", null, "p1@ex.org", null, null, "c", 1)) ++
      (1 until 31).map(i => fact(emp(i), ReportsTo, emp((i - 1) / 2))) ++
      (0 until 15).map(i => literal(emp(i), S + "jobTitle", "Manager")) :+
      literal(emp(3), S + "jobTitle", "Lead")

  private lazy val base = java.nio.file.Files.createTempDirectory("query_analyses_").toString
  private lazy val graphDir = {
    ExtractPipeline.writeGraph(triples.toDS(), s"$base/graph", predBuckets = 8)
    s"$base/graph"
  }
  private lazy val table = {
    ExtractPipeline.writeGraphBucketedBySubject(triples.toDS(), "query_analyses_subj", buckets = 4,
      path = s"$base/table")
    "query_analyses_subj"
  }

  /** (kind, analysis budget, QueryMain arguments without source and output, answer rows). */
  private lazy val kinds: Seq[(String, Int, Seq[String], Long)] = Seq(
    ("bgp_lookup", 5, Seq("--pattern", s"${iri(person(4))} ${iri(S + "name")} ?n"), 1L),
    ("ask", 5, Nil, 1L),
    ("path", 12, Seq("--pattern", s"${iri(emp(29))} ${iri(ReportsTo)}+ ?m"), 4L),
    ("describe", 5, Seq("--describe", "p", "--pattern", s"?p ${iri(S + "email")} ${"\"p1@ex.org\""}"), 7L),
    ("optional", 5, Seq("--pattern", s"?e ${iri(ReportsTo)} ${iri(emp(1))}",
      "--optional", s"?e ${iri(S + "jobTitle")} ?t"), 3L),
    ("minus", 5, Seq("--pattern", s"?e ${iri(ReportsTo)} ${iri(emp(7))}",
      "--minus", s"?e ${iri(S + "jobTitle")} ?t"), 2L),
    ("bgp_star", 5, Seq("--pattern", s"?p ${iri(Rdf)} ${iri(S + "Person")}",
      "--pattern", s"?p ${iri(S + "name")} ?n", "--pattern", s"?p ${iri(S + "worksFor")} ${iri(org(2))}"), 6L))

  /** One call of a kind, as the job spec makes it: QueryMain's row count, or ASK's answer as 1/0. */
  private def query(name: String, args: Seq[String]): Long = name match {
    case "ask" =>
      val g = GraphQuery.loadGraph(spark, graphDir)
      if (GraphQuery.ask(g, Seq((C(emp(29)), C(ReportsTo), V("m")),
        (V("m"), C(ReportsTo), C(emp(6)))))) 1L else 0L
    case _ =>
      val source = if (name == "bgp_star") Seq("--table", table) else Seq("--graph", graphDir)
      QueryMain.run((args ++ source ++ Seq("--output", s"$base/out_$name")).toArray, spark)
  }

  test("QueryMain: every query kind stays within its analysis budget") {
    val counts = kinds.map { case (name, budget, args, rows) =>
      query(name, args) // warm-up: first plans of the JVM
      val (n, analyses) = AnalysisCount.of(query(name, args))
      assert(n == rows, name)
      (name, budget, analyses)
    }
    val report = counts.map { case (k, b, n) => s"$k: $n analyses (budget $b)" }.mkString("\n")
    info(report)
    // a count of 0 would mean the counting check rule is not registered
    assert(counts.forall { case (_, b, n) => n >= 1 && n <= b }, report)
  }
}
