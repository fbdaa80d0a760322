package graft.spark

import graft.model.Triple
import graft.spark.AdaptiveStrategy.{Decision, Limits, withLimits}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Strategy parity for every size-adaptive engine (closures, incremental
  * closure, entailment fixpoint, pagerank, connected components): the
  * result must be the same whether the engine runs as one task, is forced
  * through its distributed body (admission limits 0), or is admitted and
  * then overflows an in-task cap and falls back. Without this, the
  * distributed loops — the shapes that actually run at scale — and the
  * overflow → fallback path would only execute on huge data.
  */
class DistributedPathParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def edgeDf(es: (String, String)*): DataFrame =
    es.toDF("s", "o")

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def ids(ds: Dataset[Triple]) = ds.collect()
    .map(x => (x.subj, x.pred, x.obj_iri, x.obj_lexical, x.obj_datatype, x.obj_lang)).toSet

  /** Admitted as usual, but every in-task cap overflows past one pair/fact. */
  private val Overflowing = Limits.Production.copy(closurePairs = 1L, entailResult = 1L)

  private def forced[A](body: => A): A = withLimits(Limits.ForceDistributed)(body)._1

  private def fellBack(ds: Seq[Decision], engine: String): Boolean =
    ds.exists(d => d.engine.startsWith(engine) && d.fallback)

  test("closePairs: doubling distributed path equals the single-task path (chain, diamond, cycle)") {
    val graphs = Seq(
      edgeDf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "e" -> "f"),
      edgeDf("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d", "d" -> "e"),
      edgeDf("a" -> "b", "b" -> "c", "c" -> "a"))
    graphs.foreach { g =>
      val single = pairs(GraphQuery.closePairs(g))
      val dist = forced(pairs(GraphQuery.closePairs(g)))
      assert(single == dist)
      assert(single.nonEmpty)
    }
  }

  test("pathPlusIncremental: distributed decomposition equals the single-task path") {
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "b" -> "c", "x" -> "y"))
    val delta = edgeDf("c" -> "x", "y" -> "z")
    val single = pairs(GraphQuery.pathPlusIncremental(closed, delta))
    val dist = forced(pairs(GraphQuery.pathPlusIncremental(closed, delta)))
    assert(single == dist)
    // sanity: the bridge closes across old components
    assert(single.contains("a" -> "z"))
  }

  test("owlEntail / owlEntailIncremental: distributed fixpoint equals the single-task path") {
    def t(s: String, p: String, o: String) = Triple(s, p, o, null, null, null, "c", 0)
    val base = Seq(
      t("x", "p", "y"), t("y", "p", "z"),
      t("x", Entailment.RdfType, "A"),
      t("q", "meta", "r"),
      t("meta", Entailment.SubPropertyOf, Entailment.SubPropertyOf),
      t("x", "q", "y")).toDS()
    val delta = Seq(
      t("p", Entailment.SubPropertyOf, "pp"),
      t("A", Entailment.SubClassOf, "B")).toDS()
    val single = ids(Entailment.owlEntail(base))
    val singleIncr = ids(Entailment.owlEntailIncremental(Entailment.owlEntail(base), delta))
    forced {
      val dist = ids(Entailment.owlEntail(base))
      val distIncr = ids(Entailment.owlEntailIncremental(Entailment.owlEntail(base), delta))
      assert(single == dist)
      assert(singleIncr == distIncr)
    }
    // the derived-schema-edge replay fired on both paths
    assert(single.contains(("x", "r", "y", null, null, null)))
    assert(singleIncr.contains(("x", "pp", "y", null, null, null)))
  }

  /** The full closure and an incremental split of `facts`, on one strategy. */
  private def entailOn(limits: Limits, facts: Seq[Triple], split: Int) =
    withLimits(limits) {
      val (old, fresh) = facts.splitAt(split)
      (ids(Entailment.owlEntail(facts.toDS())),
        ids(Entailment.owlEntailIncremental(Entailment.owlEntail(old.toDS()), fresh.toDS())))
    }

  test("prp-trp: single-task, distributed and overflow fallback equal the naive fixpoint") {
    TransitiveCases.all.foreach { case (name, facts) =>
      val naive = NaiveEntailment.closure(facts)
      // split before the declaration: the incremental call must replay the
      // standing facts through a transitive edge that arrives in its delta
      Seq(Limits.Production, Limits.ForceDistributed, Overflowing).foreach { l =>
        val ((full, incr), decisions) = entailOn(l, facts, facts.size - 1)
        assert(full == naive, s"$name on $l")
        assert(incr == naive, s"$name incremental on $l")
        if (l == Overflowing) assert(fellBack(decisions, "Entailment"), s"$name: $decisions")
      }
    }
  }

  test("pagerank: distributed loop equals the single-task path bit-for-bit") {
    val edges = edgeDf("a" -> "b", "b" -> "c", "c" -> "a", "d" -> "a", "e" -> "a")
      .select(col("s").as("src"), col("o").as("dst"))
    def ranks(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val single = ranks(GraphRank.pagerank(edges, iters = 4))
    val (dist, decisions) = withLimits(Limits.ForceDistributed)(
      ranks(GraphRank.pagerank(edges, iters = 4)))
    assert(single == dist)
    assert(single.nonEmpty)
    assert(decisions.map(_.strategy) == Seq("distributed"))
  }

  test("oversized delta overflows the incremental single task and falls back, same result") {
    // the standing closure (3 pairs) fits a 3-edge limit, so the call is
    // admitted; the 4-edge delta is unsized until the task reads it, where
    // the seed cap overflows and the distributed decomposition runs
    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "b" -> "c"))
    val delta = edgeDf("c" -> "d", "d" -> "e", "e" -> "f", "f" -> "g")
    val normal = pairs(GraphQuery.pathPlusIncremental(closed, delta))
    val (fallback, decisions) = withLimits(Limits.Production.copy(closureEdges = 3L))(
      pairs(GraphQuery.pathPlusIncremental(closed, delta)))
    assert(normal == fallback)
    assert(normal.contains("a" -> "g"))
    assert(decisions.head == Decision("GraphQuery.pathPlusIncremental", 3L, 3L,
      "distributed", fallback = true))
  }

  test("hub graph admitted under a shrunken pair cap falls back mid-round to the distributed closure") {
    // n sources -> hub -> n sinks: 2n edges close to n² + 2n pairs, almost
    // all derived in round 1 — the cap must fire as pairs are added, not
    // after the round has buffered them
    val n = 30
    val hub = edgeDf((0 until n).map(i => s"s$i" -> "hub") ++
      (0 until n).map(i => "hub" -> s"t$i"): _*)
    val (capped, decisions) = withLimits(Limits.Production.copy(closurePairs = 4L * n))(
      pairs(GraphQuery.closePairs(hub)))
    assert(fellBack(decisions, "GraphQuery.closure"), decisions)
    assert(capped == forced(pairs(GraphQuery.closePairs(hub))))
    assert(capped.size == n * n + 2 * n)
  }

  test("in-task overflow falls back: full closure, incremental closure and entailment") {
    // the input fits every admission limit; only the RESULT overflows
    val chain = edgeDf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "e" -> "f")
    val single = pairs(GraphQuery.closePairs(chain))
    val (full, d1) = withLimits(Overflowing)(pairs(GraphQuery.closePairs(chain)))
    assert(fellBack(d1, "GraphQuery.closure"), d1)
    assert(full == single)

    val closed = GraphQuery.closePairs(edgeDf("a" -> "b", "b" -> "c"))
    val delta = edgeDf("c" -> "d", "d" -> "e")
    val singleIncr = pairs(GraphQuery.pathPlusIncremental(closed, delta))
    val (incr, d2) = withLimits(Overflowing)(pairs(GraphQuery.pathPlusIncremental(closed, delta)))
    assert(fellBack(d2, "GraphQuery.pathPlusIncremental"), d2)
    assert(incr == singleIncr)

    def t(s: String, p: String, o: String) = Triple(s, p, o, null, null, null, "c", 0)
    val facts = Seq(t("x", "p", "y"), t("p", Entailment.SubPropertyOf, "q"),
      t("q", Entailment.SubPropertyOf, "r"), t("x", Entailment.RdfType, "A"),
      t("A", Entailment.SubClassOf, "B")).toDS()
    val singleEnt = ids(Entailment.owlEntail(facts))
    val (ent, d3) = withLimits(Overflowing)(ids(Entailment.owlEntail(facts)))
    assert(fellBack(d3, "Entailment"), d3)
    assert(ent == singleEnt)
    assert(ent.contains(("x", "r", "y", null, null, null)))
  }

  test("the seam restores the production limits on exit, also when its body throws") {
    intercept[RuntimeException](withLimits(Limits.ForceDistributed)(throw new RuntimeException))
    assert(AdaptiveStrategy.limits == Limits.Production)
    val (_, decisions) = withLimits(Limits.Production)(
      pairs(GraphQuery.closePairs(edgeDf("a" -> "b"))))
    assert(decisions.map(_.strategy) == Seq("single-task"))
  }

  // ------------------------------------------------------------------
  // property: every strategy agrees on hub, chain, cycle and NULL-hop
  // edge sets
  // ------------------------------------------------------------------

  private val node = Gen.oneOf("a", "b", "c", "d", "e", "f")
  private val chainGen = Gen.choose(1, 7).map(n => (0 until n).map(i => (s"n$i", s"n${i + 1}")))
  private val cycleGen = Gen.choose(2, 6).map(n => (0 until n).map(i => (s"n$i", s"n${(i + 1) % n}")))
  private val hubGen = Gen.choose(1, 4).map(n =>
    (0 until n).map(i => (s"s$i", "hub")) ++ (0 until n).map(i => ("hub", s"t$i")))
  // random edges with NULL endpoints mixed in: traversal must never
  // continue through a NULL hop node
  private val nullHopGen = Gen.listOfN(6, Gen.zip(
    Gen.frequency(4 -> node, 1 -> Gen.const(null: String)),
    Gen.frequency(4 -> node, 1 -> Gen.const(null: String))))
  private val edgeSetGen: Gen[Seq[(String, String)]] = for {
    base <- Gen.oneOf(chainGen, cycleGen, hubGen, nullHopGen)
    extra <- Gen.listOfN(2, Gen.zip(node, node))
  } yield base ++ extra

  test("property: closePairs, pathPlusIncremental and ConnectedComponents.run agree across strategies") {
    def ccSet(es: Seq[(String, String)]) =
      ConnectedComponents.run(es.toDF("src", "dst")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val prop = Prop.forAll(edgeSetGen) { es =>
      val (old, fresh) = es.splitAt(es.size / 2)
      def closure = pairs(GraphQuery.closePairs(edgeDf(es: _*)))
      def incremental =
        pairs(GraphQuery.pathPlusIncremental(GraphQuery.closePairs(edgeDf(old: _*)), edgeDf(fresh: _*)))
      val strategies = Seq(Limits.Production, Limits.ForceDistributed, Overflowing)
      val closures = strategies.map(l => withLimits(l)(closure)._1)
      val incrementals = strategies.map(l => withLimits(l)(incremental)._1)
      // union–find holds state linear in its admitted edges: it has no
      // in-task cap to overflow, so components run on two strategies
      val components = Seq(Limits.Production, Limits.ForceDistributed)
        .map(l => withLimits(l)(ccSet(es))._1)
      closures.distinct.size == 1 && incrementals.distinct.size == 1 &&
        incrementals.head == closures.head && components.distinct.size == 1
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(0x5EED)), prop)
    assert(result.passed, result.toString)
  }

  // property: prp-trp with rewrite interplay on small random graphs
  private val entailNode = Gen.oneOf("a", "b", "c", "d", "e")
  private val schemaGen: Gen[Seq[Triple]] = Gen.someOf(Seq(
    Triple("p", Entailment.RdfType, Entailment.TransitiveProperty, null, null, null, "s", 0),
    Triple("q", Entailment.SubPropertyOf, "p", null, null, null, "s", 0),
    Triple("p", Entailment.InverseOf, "r", null, null, null, "s", 0),
    Triple("q", Entailment.RdfType, "T", null, null, null, "s", 0),
    Triple("T", Entailment.SubClassOf, Entailment.TransitiveProperty, null, null, null, "s", 0)))
    .map(_.toSeq)
  private val factGen: Gen[Triple] = for {
    s <- entailNode
    p <- Gen.oneOf("p", "q")
    o <- Gen.frequency(5 -> entailNode.map(Some(_)), 1 -> Gen.const(None))
  } yield o.fold(Triple(s, p, null, s"v$s", null, "en", "c", 1))(Triple(s, p, _, null, null, null, "c", 1))

  test("property: prp-trp closures agree with the naive fixpoint on every strategy") {
    // schema first or last, split anywhere: declarations and rewrite edges
    // land in the standing graph or arrive in the incremental delta
    val prop = Prop.forAll(schemaGen, Gen.choose(1, 6).flatMap(Gen.listOfN(_, factGen)),
        Gen.oneOf(true, false), Gen.choose(0, 10)) { (schema, facts, schemaFirst, cut) =>
      val all = if (schemaFirst) schema ++ facts else facts ++ schema
      val naive = NaiveEntailment.closure(all)
      Seq(Limits.Production, Limits.ForceDistributed, Overflowing).forall { l =>
        val (full, incr) = entailOn(l, all, math.min(cut, all.size))._1
        full == naive && incr == naive
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(0x7EA5)), prop)
    assert(result.passed, result.toString)
  }
}
