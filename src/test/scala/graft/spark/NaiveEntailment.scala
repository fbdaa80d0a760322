package graft.spark

import graft.model.Triple
import graft.spark.Entailment._

/** The reference's own entailment algorithm (expansion.rb:145-162): apply
  * every rule to the WHOLE fact set and repeat until the set stops
  * growing. Quadratic and in plain Scala collections, so only for small
  * test graphs — the oracle the semi-naive strategies are compared
  * against.
  */
object NaiveEntailment {
  type Fact = (String, String, String, String, String, String)

  def fact(t: Triple): Fact = (t.subj, t.pred, t.obj_iri, t.obj_lexical, t.obj_datatype, t.obj_lang)

  def closure(triples: Seq[Triple]): Set[Fact] = {
    var all = triples.map(fact).toSet
    var grew = true
    while (grew) {
      def edges(p: String): Set[(String, String)] =
        all.collect { case (a, `p`, b, _, _, _) if b != null => (a, b) }
      def declared(c: String): Set[String] =
        all.collect { case (p, RdfType, `c`, _, _, _) => p }
      val pred = edges(SubPropertyOf) ++ edges(EquivalentProperty) ++
        edges(EquivalentProperty).map(_.swap)
      val inv = edges(InverseOf) ++ edges(InverseOf).map(_.swap) ++
        declared(SymmetricProperty).map(p => (p, p))
      val cls = edges(SubClassOf) ++ edges(EquivalentClass) ++ edges(EquivalentClass).map(_.swap)
      val trans = declared(TransitiveProperty)
      val derived = all.toSeq.flatMap { case (s, p, oi, ol, od, og) =>
        pred.collect { case (`p`, p2) => (s, p2, oi, ol, od, og) } ++
          (if (oi == null) Nil
          else inv.collect { case (`p`, p2) => (oi, p2, s, null, null, null) } ++
            (if (p != RdfType) Nil
            else cls.collect { case (`oi`, c2) => (s, RdfType, c2, null, null, null) })) ++
          (if (oi == null || !trans.contains(p)) Nil
          else all.collect { case (`oi`, `p`, zi, zl, zd, zg) => (s, p, zi, zl, zd, zg) })
      }
      val next = all ++ derived
      grew = next.size > all.size
      all = next
    }
    all
  }
}

/** prp-trp shapes every entailment strategy must close identically. */
object TransitiveCases {
  private def t(s: String, p: String, o: String) = Triple(s, p, o, null, null, null, "c", 0)
  private val trans = (p: String) => t(p, RdfType, TransitiveProperty)

  /** name → facts; every case closes `p` transitively. */
  val all: Seq[(String, Seq[Triple])] = Seq(
    "chain" -> Seq(t("a", "p", "b"), t("b", "p", "c"), t("c", "p", "d"), t("d", "p", "e"),
      trans("p")),
    "cycle" -> Seq(t("a", "p", "b"), t("b", "p", "c"), t("c", "p", "a"), trans("p")),
    "literal terminal" -> Seq(t("a", "p", "b"), t("b", "p", "c"),
      Triple("c", "p", null, "leaf", null, "en", "c", 0), trans("p")),
    "q ⊑ p feeds p" -> Seq(t("a", "q", "b"), t("b", "q", "c"), t("c", "p", "d"),
      t("q", SubPropertyOf, "p"), trans("p")),
    "derived declaration" -> Seq(t("a", "p", "b"), t("b", "p", "c"), t("c", "p", "d"),
      t("p", RdfType, "Chain"), t("Chain", SubClassOf, TransitiveProperty)))
}
