package graft.spark

import graft.model.Triple
import org.scalatest.funsuite.AnyFunSuite

/** The entailment fixpoint has two physical strategies (single in-memory
  * task at or under the entailment fact limit of [[AdaptiveStrategy.Limits]],
  * distributed semi-naive above).
  * This spec pins the SINGLE-TASK path's rule semantics against
  * hand-checked expectations and the naive fixpoint ([[NaiveEntailment]]):
  * every rule kind, chained targets, literal carry, derived-schema-edge
  * replay, prp-trp shapes, incremental == scratch;
  * [[DistributedPathParitySpec]] forces the distributed strategies via
  * the [[AdaptiveStrategy.withLimits]] seam and asserts the paths agree.
  */
class EntailmentParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def t(s: String, p: String, o: String): Triple =
    Triple(s, p, o, null, null, null, "c", 0)
  private def lit(s: String, p: String, v: String): Triple =
    Triple(s, p, null, v, null, null, "c", 0)

  private def ids(ds: org.apache.spark.sql.Dataset[Triple]) =
    ds.collect().map(x =>
      (x.subj, x.pred, x.obj_iri, x.obj_lexical, x.obj_datatype, x.obj_lang)).toSet

  test("single-task fixpoint: every rule kind, chained targets, literal carry") {
    val facts = Seq(
      t("x", "p", "y"), lit("x", "p", "42"),
      t("p", Entailment.SubPropertyOf, "q"),
      t("q", Entailment.EquivalentProperty, "r"),
      t("x", Entailment.RdfType, "A"),
      t("A", Entailment.SubClassOf, "B"),
      t("B", Entailment.EquivalentClass, "C"),
      t("x", "inv1", "y"),
      t("inv1", Entailment.InverseOf, "vni"),
      t("s", Entailment.RdfType, Entailment.SymmetricProperty),
      t("m", "s", "n")).toDS()
    val out = ids(Entailment.owlEntail(facts))
    // pred chain p ⊑ q ≡ r (both directions of ≡)
    assert(out.contains(("x", "q", "y", null, null, null)))
    assert(out.contains(("x", "r", "y", null, null, null)))
    assert(out.contains(("x", "q", null, "42", null, null))) // literal rides pred rewrites
    assert(out.contains(("x", "r", null, "42", null, null)))
    // class chain A ⊑ B ≡ C
    assert(out.contains(("x", Entailment.RdfType, "B", null, null, null)))
    assert(out.contains(("x", Entailment.RdfType, "C", null, null, null)))
    // inverse + symmetric
    assert(out.contains(("y", "vni", "x", null, null, null)))
    assert(out.contains(("n", "s", "m", null, null, null)))
  }

  test("single-task fixpoint: a DERIVED schema edge replays the standing graph") {
    // q ⊑ subPropertyOf-of-r arrives only through a rewrite: meta ⊑ spo
    // makes (q meta r) derive (q subPropertyOf r), which must then rewrite
    // the standing fact (x q y) into (x r y) — the new-edge replay path
    val facts = Seq(
      t("x", "q", "y"),
      t("q", "meta", "r"),
      t("meta", Entailment.SubPropertyOf, Entailment.SubPropertyOf)).toDS()
    val out = ids(Entailment.owlEntail(facts))
    assert(out.contains(("q", Entailment.SubPropertyOf, "r", null, null, null)))
    assert(out.contains(("x", "r", "y", null, null, null)))
  }

  test("incremental equals from-scratch through both physical shapes") {
    val base = Seq(
      t("x", "p", "y"), t("y", "p", "z"), lit("z", "name", "Zed"),
      t("x", Entailment.RdfType, "A")).toDS()
    val delta = Seq(
      t("p", Entailment.SubPropertyOf, "q"),
      t("A", Entailment.SubClassOf, "B")).toDS()
    val closed = Entailment.owlEntail(base)
    val incr = ids(Entailment.owlEntailIncremental(closed, delta))
    val scratch = ids(Entailment.owlEntail(base.union(delta)))
    assert(incr == scratch)
    assert(incr.contains(("x", "q", "y", null, null, null)))
    assert(incr.contains(("x", Entailment.RdfType, "B", null, null, null)))
  }

  test("single-task prp-trp: chain, cycle, literal terminal, q ⊑ p, derived declaration") {
    val closures = TransitiveCases.all.map { case (name, facts) =>
      val (out, decisions) = AdaptiveStrategy.withLimits(AdaptiveStrategy.Limits.Production)(
        ids(Entailment.owlEntail(facts.toDS())))
      assert(decisions.map(_.strategy) == Seq("single-task"), name)
      assert(out == NaiveEntailment.closure(facts), name)
      name -> out
    }.toMap
    def has(name: String, s: String, o: String) =
      closures(name).contains((s, "p", o, null, null, null))
    assert(has("chain", "a", "e") && has("chain", "b", "d"))
    assert(has("cycle", "a", "a") && has("cycle", "c", "b")) // reflexive through the cycle
    assert(Seq("a", "b").forall(s => closures("literal terminal")
      .contains((s, "p", null, "leaf", null, "en"))))
    assert(has("q ⊑ p feeds p", "a", "d") && has("q ⊑ p feeds p", "a", "c"))
    assert(!closures("q ⊑ p feeds p").contains(("a", "q", "c", null, null, null)))
    assert(closures("derived declaration")
      .contains(("p", Entailment.RdfType, Entailment.TransitiveProperty, null, null, null)))
    assert(has("derived declaration", "a", "d"))
  }

  test("incremental prp-trp: a standing chain closes when the declaration or a new hop arrives") {
    val chain = Seq(t("a", "p", "b"), t("b", "p", "c"))
    val decl = Seq(t("p", Entailment.RdfType, Entailment.TransitiveProperty))
    val hop = Seq(t("c", "p", "d"), lit("d", "p", "leaf"))
    // declaration in the delta: the standing p-facts replay through it
    val closed = Entailment.owlEntail(chain.toDS())
    val afterDecl = Entailment.owlEntailIncremental(closed, decl.toDS())
    assert(ids(afterDecl) == NaiveEntailment.closure(chain ++ decl))
    // a new hop on an already transitive predicate joins the standing slice
    val afterHop = ids(Entailment.owlEntailIncremental(afterDecl, hop.toDS()))
    assert(afterHop == NaiveEntailment.closure(chain ++ decl ++ hop))
    assert(afterHop.contains(("a", "p", "d", null, null, null)))
    assert(afterHop.contains(("a", "p", null, "leaf", null, null)))
  }

  test("iteration cap: a 70-predicate subPropertyOf chain throws on both strategies; 30 closes") {
    // x p0 y climbs one predicate per round: a chain of n predicates needs
    // n - 1 deriving rounds, past the 64-round cap at n = 70
    def chain(n: Int): Seq[Triple] =
      t("x", "p0", "y") +: (1 until n).map(i => t(s"p${i - 1}", Entailment.SubPropertyOf, s"p$i"))
    Seq(AdaptiveStrategy.Limits.Production -> "single-task",
        AdaptiveStrategy.Limits.ForceDistributed -> "distributed").foreach { case (l, strategy) =>
      val (e, _) = AdaptiveStrategy.withLimits(l)(
        intercept[IllegalStateException](Entailment.owlEntail(chain(70).toDS()).collect()))
      assert(e.getMessage.contains("fixpoint not reached"), strategy)
      val (out, ds) = AdaptiveStrategy.withLimits(l)(ids(Entailment.owlEntail(chain(30).toDS())))
      assert(ds.map(_.strategy) == Seq(strategy))
      assert(out == NaiveEntailment.closure(chain(30)), strategy)
      assert(out.contains(("x", "p29", "y", null, null, null)))
    }
  }
}
