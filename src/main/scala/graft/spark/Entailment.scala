package graft.spark

import graft.model.Triple
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Distributed OWL-RL-subset entailment, re-expressed as DataFrame joins
  * against a broadcast schema-edge table.
  *
  * Rule coverage: prp-spo1, prp-eqp1, prp-eqp2 (the reference's Expansion
  * module, /root/reference/lib/rdf/microdata/expansion.rb:123-139) plus the
  * property/class rules a KG-construction pipeline needs beyond the
  * reference's property-rewrite subset — prp-inv (owl:inverseOf, both
  * directions), prp-symp (owl:SymmetricProperty), cax-sco
  * (rdfs:subClassOf) and cax-eqc1/2 (owl:equivalentClass). All five reduce
  * to one shape: a vocabulary-sized REWRITE-EDGE table `(e_p1, e_p2,
  * e_kind)` joined broadcast against the facts, where e_kind selects the
  * derivation: `pred` rewrites the predicate in place, `inv` rewrites the
  * predicate and SWAPS subject/object (IRI objects only — a literal cannot
  * become a subject), `class` rewrites the OBJECT of rdf:type facts.
  *
  * Where the reference re-runs every rule over the whole repository until
  * the count stops growing (naive fixpoint, expansion.rb:145-162 — fine at
  * page scale, quadratic at ours), this is a TRUE **semi-naive** loop:
  *
  *  - iteration i derives only from the PREVIOUS DELTA joined with the
  *    (tiny, broadcast) schema edges — never re-deriving from the full
  *    accumulated set;
  *  - the one case naive re-derivation would catch — a derived triple that
  *    is itself a new schema edge — is handled incrementally: new edges are
  *    diffed out of the delta and joined against `all` once;
  *  - the novelty check is a null-safe `left_anti` join on the six identity
  *    columns (round 1 used `except`, which distincts and compares the full
  *    row width every iteration).
  *
  * Per-iteration cost is O(|Δ| + |all ⋈ Δedges|), not O(|all|): the loop
  * stays flat as the graph accumulates.
  */
object Entailment {
  val SubPropertyOf = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
  val EquivalentProperty = "http://www.w3.org/2002/07/owl#equivalentProperty"
  val InverseOf = "http://www.w3.org/2002/07/owl#inverseOf"
  val SymmetricProperty = "http://www.w3.org/2002/07/owl#SymmetricProperty"
  val TransitiveProperty = "http://www.w3.org/2002/07/owl#TransitiveProperty"
  val SubClassOf = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
  val EquivalentClass = "http://www.w3.org/2002/07/owl#equivalentClass"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  /** (e_p1, e_p2, e_kind) rewrite edges from a triple set. Kinds:
    *  - `pred`: x p1 y ⇒ x p2 y — subPropertyOf forward + both directions
    *    of equivalentProperty;
    *  - `inv`: x p1 y ⇒ y p2 x — both directions of inverseOf, and p
    *    inverse-of-itself for a SymmetricProperty declaration;
    *  - `class`: x rdf:type c1 ⇒ x rdf:type c2 — subClassOf forward +
    *    both directions of equivalentClass.
    * Vocabulary-sized by construction → broadcast.
    */
  private def schemaEdges(ds: Dataset[Triple]): DataFrame = {
    def slice(pred: String): DataFrame =
      ds.filter(col("pred") === pred && col("obj_iri").isNotNull)
        .select(col("subj"), col("obj_iri"))
    def both(df: DataFrame, kind: String): DataFrame =
      df.select(col("subj").as("e_p1"), col("obj_iri").as("e_p2"), lit(kind).as("e_kind"))
        .union(df.select(col("obj_iri").as("e_p1"), col("subj").as("e_p2"),
          lit(kind).as("e_kind")))
    val spo = slice(SubPropertyOf)
      .select(col("subj").as("e_p1"), col("obj_iri").as("e_p2"), lit("pred").as("e_kind"))
    val inv = both(slice(InverseOf), "inv")
    val symp = ds.filter(col("pred") === RdfType && col("obj_iri") === SymmetricProperty)
      .select(col("subj").as("e_p1"), col("subj").as("e_p2"), lit("inv").as("e_kind"))
    val sco = slice(SubClassOf)
      .select(col("subj").as("e_p1"), col("obj_iri").as("e_p2"), lit("class").as("e_kind"))
    spo.union(both(slice(EquivalentProperty), "pred"))
      .union(inv).union(symp)
      .union(sco).union(both(slice(EquivalentClass), "class"))
      .distinct()
  }

  /** One derivation step of every rule kind over `facts` × `edges`,
    * lineage nulled (derived facts have no single witness turn). Each kind
    * is a separate broadcast join against its (tiny) edge slice; the three
    * branches union metadata-only.
    */
  private def derive(facts: Dataset[Triple], edges: DataFrame): DataFrame = {
    val lineage = Seq(lit(null).cast("string").as("conv_id"), lit(-1).as("turn_idx"))
    val pred = facts
      .join(broadcast(edges.filter(col("e_kind") === "pred")), col("pred") === col("e_p1"))
      .select(Seq(col("subj"), col("e_p2").as("pred"), col("obj_iri"),
        col("obj_lexical"), col("obj_datatype"), col("obj_lang")) ++ lineage: _*)
    // inverse: the object becomes the subject, so literal-object facts are
    // out of the rule's domain (a literal cannot be a subject)
    val inv = facts.filter(col("obj_iri").isNotNull)
      .join(broadcast(edges.filter(col("e_kind") === "inv")), col("pred") === col("e_p1"))
      .select(Seq(col("obj_iri").as("subj"), col("e_p2").as("pred"),
        col("subj").as("obj_iri"),
        lit(null).cast("string").as("obj_lexical"),
        lit(null).cast("string").as("obj_datatype"),
        lit(null).cast("string").as("obj_lang")) ++ lineage: _*)
    val cls = facts.filter(col("pred") === RdfType && col("obj_iri").isNotNull)
      .join(broadcast(edges.filter(col("e_kind") === "class")), col("obj_iri") === col("e_p1"))
      .select(Seq(col("subj"), col("pred"), col("e_p2").as("obj_iri"),
        lit(null).cast("string").as("obj_lexical"),
        lit(null).cast("string").as("obj_datatype"),
        lit(null).cast("string").as("obj_lang")) ++ lineage: _*)
    pred.union(inv).union(cls)
  }

  /** Fixpoint-expand a triple set. Returns base ∪ derived, deduplicated on
    * triple identity.
    *
    * The novelty anti-join never touches the whole accumulated graph: a
    * derived triple's predicate is always a rewrite TARGET (some e_p2), so
    * it can only collide with the target-predicate slice of the graph.
    * `seen` holds exactly that slice (base slice + every accepted delta)
    * and is the only thing shuffled per iteration — at corpus scale that is
    * a small fraction of the graph.
    */
  def owlEntail(triples: Dataset[Triple], maxIterations: Int = 64): Dataset[Triple] = {
    val base = triples.dropDuplicates(Triple.identityCols).localCheckpoint()
    // delta0 == base, so schemaEdges(base) already covers the first
    // iteration's edge set — the in-loop new-edge diff starts at round 2
    entailFrom(base, base, schemaEdges(base).localCheckpoint(),
      firstDeltaEdgesCovered = true, maxIterations)
  }

  /** INCREMENTAL closure maintenance — the entailment twin of
    * [[ExtractPipeline.graphDiff]]'s continuously-crawled-corpus role:
    * given an ALREADY-CLOSED graph (an [[owlEntail]] output, deduplicated)
    * and newly asserted triples, return `owlEntail(closed ∪ delta)` while
    * deriving ONLY from the delta. The rewrite rules are monotone datalog,
    * so the semi-naive loop seeded with the fresh rows (instead of the
    * whole base) computes exactly the same fixpoint — per-batch cost is
    * O(|Δ| + |closed ⋈ Δedges|), never O(|closed|): at 100 TB the nightly
    * crawl increment re-derives nothing the standing closure already
    * holds.
    *
    * A schema edge ARRIVING IN THE DELTA (e.g. a new `q ⊑ p` assertion) is
    * the one case where old facts yield new derivations; the loop's
    * new-edge diff runs from the FIRST iteration here, joining the full
    * closed graph against just those new edges — the same one-shot
    * catch-up [[owlEntail]] applies when a derived triple is itself a
    * schema edge.
    *
    * Transitive predicates are out of scope (their antecedent joins facts
    * with facts — incremental transitive closure needs its own frontier
    * over the NEW edges; use [[owlEntailWithTransitive]] on the union when
    * the schema declares any).
    */
  def owlEntailIncremental(closed: Dataset[Triple], delta: Dataset[Triple],
                           maxIterations: Int = 64): Dataset[Triple] = {
    val antiCond = Triple.identityCond("d", "a")
    // the input contract says `closed` is deduplicated (an owlEntail
    // output or a set-semantics standing dir) — re-deduplicating here
    // would be a corpus-wide shuffle per fold, and checkpointing it a full
    // materialization: O(|closed|) work in the operator whose whole point
    // is O(|Δ|). The standing side is only ever SCANNED (novelty
    // anti-join, schema-edge slice, target slice), never shuffled.
    val base = closed
    import closed.sparkSession.implicits._
    // one action materializes the fresh slice AND answers the emptiness probe
    val fresh = delta.dropDuplicates(Triple.identityCols).as("d")
      .join(base.as("a"), antiCond, "left_anti").as[Triple]
      .localCheckpoint(eager = false)
    if (fresh.count() == 0) return base
    // edges from CLOSED only: the first-iteration diff then surfaces the
    // delta's own schema edges and replays them against the closed graph
    entailFrom(base.union(fresh), fresh,
      schemaEdges(base).localCheckpoint(),
      firstDeltaEdgesCovered = false, maxIterations)
  }

  /** Shared semi-naive fixpoint core of [[owlEntail]] (delta = whole base)
    * and [[owlEntailIncremental]] (delta = fresh rows only), through
    * [[AdaptiveStrategy.run]]: at or under the entailment fact limit the
    * fixpoint runs as ONE in-memory task ([[entailKernel]]), above it — any
    * real-scale graph — the distributed semi-naive loop runs. The
    * rewrite-edge table is vocabulary-sized by construction (already the
    * broadcast assumption), so collecting it for the task is the same
    * driver cost the broadcast path pays.
    *
    * @param result0 deduplicated starting graph (already contains delta0)
    * @param delta0  the rows to derive from first
    * @param edges0  rewrite edges KNOWN before delta0's are diffed in
    * @param firstDeltaEdgesCovered true when edges0 already includes
    *        delta0's schema edges (full closure); false makes the
    *        new-edge diff run from iteration 1 (incremental)
    */
  private def entailFrom(result0: Dataset[Triple], delta0: Dataset[Triple],
                         edges0: DataFrame, firstDeltaEdgesCovered: Boolean,
                         maxIterations: Int): Dataset[Triple] = {
    val spark = result0.sparkSession
    import spark.implicits._
    val tag = (t: Int, ds: Dataset[Triple]) => ds.toDF().select(
      lit(t).as("t"), col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"),
      col("obj_datatype"), col("obj_lang"), col("conv_id"), col("turn_idx"))
    val input =
      if (result0 eq delta0) tag(1, result0) else tag(0, result0).unionByName(tag(1, delta0))
    val l = AdaptiveStrategy.limits
    AdaptiveStrategy.run("Entailment", result0.count(), l.entailFacts,
        input.as[(Int, String, String, String, String, String, String, String, Int)]) {
      val edgeArr = edges0.select(col("e_p1"), col("e_p2"), col("e_kind"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      entailKernel(_, edgeArr, firstDeltaEdgesCovered, maxIterations, l.entailResult)
    }(entailFromDistributed(result0, delta0, edges0, firstDeltaEdgesCovered, maxIterations))
  }

  /** In-task rewrite-edge index: per rule kind, match key → targets. */
  private final class RuleIndex {
    private val kinds = Seq("pred", "inv", "class")
      .map(_ -> new java.util.HashMap[String, mutable.ArrayBuffer[String]]()).toMap
    def add(e: (String, String, String)): Unit = {
      val m = kinds(e._3)
      var buf = m.get(e._1)
      if (buf == null) { buf = mutable.ArrayBuffer.empty[String]; m.put(e._1, buf) }
      buf += e._2
    }
    private def each(kind: String, k: String)(f: String => Unit): Unit = {
      val targets = kinds(kind).get(k)
      if (targets != null) targets.foreach(f)
    }
    /** [[derive]]'s twin over one fact. */
    def derive(f: Triple, emit: Triple => Unit): Unit = {
      each("pred", f.pred)(p2 =>
        emit(Triple(f.subj, p2, f.obj_iri, f.obj_lexical, f.obj_datatype, f.obj_lang, null, -1)))
      if (f.obj_iri != null) {
        each("inv", f.pred)(p2 => emit(Triple(f.obj_iri, p2, f.subj, null, null, null, null, -1)))
        if (f.pred == RdfType)
          each("class", f.obj_iri)(c2 => emit(Triple(f.subj, RdfType, c2, null, null, null, null, -1)))
      }
    }
  }

  /** The in-memory twin of [[entailFromDistributed]] over tagged rows (t = 1
    * marks delta0): identical rule application, identical new-edge handling
    * (a derived triple that is itself a schema edge widens the edge set and
    * replays the WHOLE graph against just the new edges), identity-column
    * novelty, and the same THROW at the iteration cap — asserted equal to
    * the distributed path by the parity specs. The result cap is checked as
    * each novel fact is added.
    */
  private def entailKernel(rows: Iterator[(Int, String, String, String, String, String, String, String, Int)],
                           edgeArr: Array[(String, String, String)], firstCovered: Boolean,
                           maxIterations: Int, maxResult: Long): Iterator[Triple] = {
    def key(f: Triple) = (f.subj, f.pred, f.obj_iri, f.obj_lexical, f.obj_datatype, f.obj_lang)
    val seen = mutable.HashSet.empty[(String, String, String, String, String, String)]
    val result = mutable.ArrayBuffer.empty[Triple]
    var delta = mutable.ArrayBuffer.empty[Triple]
    rows.foreach { case (t, s, p, oi, ol, od, og, cv, ti) =>
      val f = Triple(s, p, oi, ol, od, og, cv, ti)
      if (seen.add(key(f))) result += f
      // the delta seed rides its tag: in the incremental case these rows
      // also sit inside result0, so they only seed the loop here, never
      // duplicate the output
      if (t == 1) delta += f
    }
    val edges = mutable.HashSet.empty[(String, String, String)]
    val index = new RuleIndex
    edgeArr.foreach(e => if (edges.add(e)) index.add(e))
    // schemaEdges twin: the rewrite edges a fact set asserts
    def schemaEdgesOf(fs: Iterable[Triple]): Seq[(String, String, String)] =
      fs.toSeq.flatMap { f =>
        if (f.obj_iri == null) Nil
        else f.pred match {
          case SubPropertyOf => Seq((f.subj, f.obj_iri, "pred"))
          case EquivalentProperty => Seq((f.subj, f.obj_iri, "pred"), (f.obj_iri, f.subj, "pred"))
          case InverseOf => Seq((f.subj, f.obj_iri, "inv"), (f.obj_iri, f.subj, "inv"))
          case SubClassOf => Seq((f.subj, f.obj_iri, "class"))
          case EquivalentClass => Seq((f.subj, f.obj_iri, "class"), (f.obj_iri, f.subj, "class"))
          case RdfType if f.obj_iri == SymmetricProperty => Seq((f.subj, f.subj, "inv"))
          case _ => Nil
        }
      }
    var iter = 0
    while (delta.nonEmpty && iter < maxIterations) {
      iter += 1
      val next = mutable.ArrayBuffer.empty[Triple]
      def emit(f: Triple): Unit =
        if (seen.add(key(f))) {
          result += f
          next += f
          if (result.size > maxResult) AdaptiveStrategy.overflow()
        }
      val newEdges =
        if (iter == 1 && firstCovered) Nil
        else schemaEdgesOf(delta).filterNot(edges.contains).distinct
      val replayed = result.size // the graph as of this round's start
      newEdges.foreach { e => edges.add(e); index.add(e) }
      delta.foreach(index.derive(_, emit))
      if (newEdges.nonEmpty) {
        // replay the WHOLE graph against just the new edges
        val fresh = new RuleIndex
        newEdges.foreach(fresh.add)
        (0 until replayed).foreach(i => fresh.derive(result(i), emit))
      }
      delta = next
    }
    if (delta.nonEmpty)
      throw new IllegalStateException(
        s"entailment fixpoint not reached in $maxIterations iterations — " +
          "the closure is incomplete; raise maxIterations")
    result.iterator
  }

  private def entailFromDistributed(result0: Dataset[Triple], delta0: Dataset[Triple],
                                    edges0: DataFrame, firstDeltaEdgesCovered: Boolean,
                                    maxIterations: Int): Dataset[Triple] = {
    val spark = result0.sparkSession
    import spark.implicits._
    val antiCond = Triple.identityCond("d", "a")

    // the slice a derived triple can collide with: pred/inv rewrites land
    // on a target PREDICATE; class rewrites land on rdf:type facts whose
    // object is a target CLASS — union of two semi-joined slices (overlap
    // possible if a property rewrite targets rdf:type itself; duplicates
    // in `seen` are harmless to an anti-join)
    def targetSlice(ds: Dataset[Triple], edges: DataFrame): Dataset[Triple] = {
      val predTargets = ds.join(
        broadcast(edges.filter(col("e_kind") =!= "class").select(col("e_p2")).distinct()),
        col("pred") === col("e_p2"), "left_semi")
      val classTargets = ds.filter(col("pred") === RdfType).join(
        broadcast(edges.filter(col("e_kind") === "class").select(col("e_p2")).distinct()),
        col("obj_iri") === col("e_p2"), "left_semi")
      predTargets.union(classTargets).as[Triple]
    }

    // a row that can BE a schema edge (the schemaEdges slices' union): one
    // cheap limit-1 probe of the materialized delta decides whether the
    // full 7-slice diff plan needs to run at all — derived facts are
    // almost never schema edges, and the diff used to cost a checkpoint +
    // emptiness action every iteration regardless
    val schemaShaped =
      col("pred").isin(SubPropertyOf, EquivalentProperty, InverseOf,
        SubClassOf, EquivalentClass) ||
        (col("pred") === RdfType && col("obj_iri") === SymmetricProperty)

    var result = result0
    var delta = delta0
    var edges = edges0
    var seen = targetSlice(result0, edges).localCheckpoint()
    var iter = 0
    var deltaLive = !delta.isEmpty
    while (iter < maxIterations && deltaLive) {
      iter += 1
      // edges introduced by the last delta; the rare nonEmpty case widens
      // the target set, so `seen` is rebuilt
      val newEdges =
        if (iter == 1 && firstDeltaEdgesCovered) None
        else if (delta.filter(schemaShaped).isEmpty) None
        else {
          val ne = schemaEdges(delta).as("d")
            .join(edges.as("a"),
              col("d.e_p1") === col("a.e_p1") && col("d.e_p2") === col("a.e_p2") &&
                col("d.e_kind") === col("a.e_kind"),
              "left_anti")
            .localCheckpoint()
          if (ne.isEmpty) None else Some(ne)
        }
      val derived = newEdges match {
        case None => derive(delta, edges)
        case Some(ne) =>
          edges = edges.union(ne).distinct().localCheckpoint()
          seen = targetSlice(result, edges).localCheckpoint()
          derive(delta, edges).union(derive(result, ne))
      }
      // lazy checkpoint + count: ONE action materializes the delta's
      // blocks AND answers the loop's emptiness question
      val newDelta = derived
        .dropDuplicates(Triple.identityCols)
        .as("d")
        .join(seen.as("a"), antiCond, "left_anti")
        .as[Triple]
        .localCheckpoint(eager = false)
      deltaLive = newDelta.count() > 0
      // accepted deltas are disjoint from everything seen and individually
      // checkpointed, so plain unions stay duplicate-free AND shallow —
      // no per-round re-materialization of the whole slice
      seen = seen.union(newDelta)
      result = result.union(newDelta)
      delta = newDelta
    }
    // a live delta at the iteration cap means the closure is INCOMPLETE —
    // returning it silently would hand downstream a wrong graph (same
    // invariant ConnectedComponents enforces on its loop)
    if (deltaLive)
      throw new IllegalStateException(
        s"entailment fixpoint not reached in $maxIterations iterations — " +
          "the closure is incomplete; raise maxIterations")
    result
  }

  /** Full closure INCLUDING prp-trp (owl:TransitiveProperty) — the one
    * OWL-RL rule the rewrite-edge machinery can't express, because its
    * antecedent joins FACTS with FACTS (`x p y ∧ y p z ⇒ x p z`), not
    * facts with a vocabulary-sized edge table.
    *
    * Composition: an OUTER fixpoint alternates [[owlEntail]] (all rewrite
    * rules, semi-naive) with one transitive-closure pass per DECLARED
    * transitive predicate ([[GraphQuery.pathPlus]] — itself semi-naive
    * frontier expansion on the predicate's pruned slice). Alternation is
    * required for correctness, not convenience: a rewrite can derive new
    * p-edges (e.g. q ⊑ p) that extend p's transitive closure, and a
    * closure edge can feed rewrites (e.g. p ⊑ r) — each outer round runs
    * both to quiescence, and the loop exits when a full round derives
    * nothing. Real schemas settle in 1–2 outer rounds (the bound guards
    * pathological rule cycles, same THROW-not-truncate stance as the
    * inner loops).
    *
    * Scale: each outer round costs one semi-naive rewrite fixpoint plus,
    * per transitive predicate, one pathPlus whose per-iteration join is
    * co-partitioned on the hop column. Declared transitive predicates are
    * vocabulary-sized (the driver-side collect is a catalog read). The
    * quiescence check exploits closure idempotence: after a round's
    * closure edges are unioned in, the transitive slices ARE transitively
    * closed — so the loop exits as soon as the rewrite fixpoint
    * introduces no further edge on a transitive predicate (one anti-join,
    * not a second full pathPlus; the common no-interplay schema settles
    * with exactly one closure pass).
    */
  def owlEntailWithTransitive(triples: Dataset[Triple],
                              maxOuterRounds: Int = 8,
                              maxPathIterations: Int = 64): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._

    // the full object-typed slice of the transitive predicates — literal
    // objects included, because prp-trp derives literal-TERMINAL facts too
    // (x p y ∧ y p "lit" ⇒ x p "lit"; only INTERMEDIATE nodes must be
    // IRIs, a literal never being a subject)
    def transSlice(ds: Dataset[Triple], preds: Seq[String]): DataFrame =
      ds.filter(col("pred").isin(preds: _*))
        .select(col("pred").as("p"), col("subj").as("s"), col("obj_iri").as("o"),
          col("obj_lexical").as("ol"), col("obj_datatype").as("od"),
          col("obj_lang").as("og"))
    def sliceCond(d: String, a: String) =
      col(s"$d.p") === col(s"$a.p") && col(s"$d.s") === col(s"$a.s") &&
        col(s"$d.o") <=> col(s"$a.o") && col(s"$d.ol") <=> col(s"$a.ol") &&
        col(s"$d.od") <=> col(s"$a.od") && col(s"$d.og") <=> col(s"$a.og")

    var g = owlEntail(triples)
    var round = 0
    var settled = false
    while (!settled && round < maxOuterRounds) {
      round += 1
      val transPreds = g
        .filter(col("pred") === RdfType && col("obj_iri") === TransitiveProperty)
        .select(col("subj")).distinct().collect().map(_.getString(0)).sorted.toSeq
      if (transPreds.isEmpty) { settled = true }
      else {
        // new transitive facts this round: IRI closure pairs plus their
        // literal-terminal extensions, minus what is already asserted
        val fresh = transPreds.map { p =>
          // no extra localCheckpoint: pathPlus already returns materialized
          // state (the single-task closure is a checkpointed frame; the
          // distributed path a shallow union of checkpointed deltas) — a
          // second checkpoint re-copied the whole closure per round
          val closure = GraphQuery.pathPlus(
            GraphQuery.PersistedGraph(g.toDF(), 0, Map.empty), p,
            maxIterations = maxPathIterations)
          val existing = g.filter(col("pred") === p && col("obj_iri").isNotNull)
            .select(col("subj").as("s"), col("obj_iri").as("o"))
          val iriFresh = closure.as("d").join(existing.as("a"),
              col("d.s") === col("a.s") && col("d.o") === col("a.o"), "left_anti")
            .select(col("s").as("subj"), lit(p).as("pred"), col("o").as("obj_iri"),
              lit(null).cast("string").as("obj_lexical"),
              lit(null).cast("string").as("obj_datatype"),
              lit(null).cast("string").as("obj_lang"),
              lit(null).cast("string").as("conv_id"), lit(-1).as("turn_idx"))
            .as[Triple]
          // literal-terminal extension (prp-trp with a literal final hop):
          // x →closure→ y ∧ y p "lit" ⇒ x p "lit"
          val litFacts = g.filter(col("pred") === p && col("obj_iri").isNull &&
              col("obj_lexical").isNotNull)
            .select(col("subj").as("ls"), col("obj_lexical").as("ol"),
              col("obj_datatype").as("od"), col("obj_lang").as("og"))
          val litDerived = closure.as("c")
            .join(litFacts.as("lf"), col("c.o") === col("lf.ls"))
            .select(col("c.s").as("subj"), lit(p).as("pred"),
              lit(null).cast("string").as("obj_iri"),
              col("lf.ol").as("obj_lexical"), col("lf.od").as("obj_datatype"),
              col("lf.og").as("obj_lang"),
              lit(null).cast("string").as("conv_id"), lit(-1).as("turn_idx"))
            .as[Triple]
          val litExisting = g.filter(col("pred") === p && col("obj_iri").isNull)
          val litFresh = litDerived.dropDuplicates(Triple.identityCols).as("d")
            .join(litExisting.as("a"), Triple.identityCond("d", "a"), "left_anti")
            .as[Triple]
          iriFresh.union(litFresh)
        }.reduce(_ union _).localCheckpoint()
        if (fresh.isEmpty) settled = true
        else {
          val before = transSlice(g, transPreds)
            .unionByName(transSlice(fresh, transPreds))
          // g is already closed under the rewrite rules (an owlEntail
          // output), so the incremental form — seeding the semi-naive loop
          // with just the closure's fresh edges — computes the identical
          // fixpoint without re-deriving from the whole accumulated graph
          // each outer round. The checkpoint bounds plan lineage across
          // outer rounds (g is consumed by pathPlus, both quiescence
          // anti-joins, and the next round).
          // entailFrom's output is already materialized state (single-task:
          // a checkpointed frame; distributed: base ∪ checkpointed deltas)
          // — the old extra localCheckpoint re-copied the whole graph
          g = owlEntailIncremental(g, fresh)
          // closed-by-construction check: did the rewrite fixpoint add any
          // transitive-pred edge BEYOND the closure we just unioned? If
          // not, those slices are transitively closed — quiescent.
          val beyond = transSlice(g, transPreds).as("d")
            .join(before.as("a"), sliceCond("d", "a"), "left_anti")
          // ... and did it declare a NEW transitive predicate? (A rewrite
          // can derive rdf:type TransitiveProperty facts; a fresh
          // declaration needs its own closure pass next round.)
          val newDecls = g
            .filter(col("pred") === RdfType && col("obj_iri") === TransitiveProperty)
            .filter(!col("subj").isin(transPreds: _*))
          settled = beyond.isEmpty && newDecls.isEmpty
        }
      }
    }
    if (!settled)
      throw new IllegalStateException(
        s"transitive entailment not settled in $maxOuterRounds outer rounds — " +
          "the closure is incomplete; raise maxOuterRounds")
    g
  }
}
