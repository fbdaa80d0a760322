package perfbench

import graft.model.Turn

/** The benchmark's own seeded input generator. Every workload's transcript
  * table is a pure function of (workload, seed, scale), and each template's
  * triple yield is known by construction, so the expected answers (statement
  * counts, distinct counts, `reportsTo` ancestor pairs, link components,
  * query row counts) are derived analytically — never by running the
  * program under test.
  */
object Gen {
  val S = "http://schema.org/"
  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Owl = "http://www.w3.org/2002/07/owl#"
  val Rdfs = "http://www.w3.org/2000/01/rdf-schema#"
  val ReportsTo = S + "reportsTo"
  val Manages = "http://ex.org/vocab/manages"
  val Contact = S + "contact"

  val CustomerClass = "http://ex.org/class/Customer"
  def personIri(p: Int) = s"http://ex.org/person/$p"
  def orgIri(o: Int) = s"http://ex.org/org/$o"
  def empIri(e: Int) = s"http://ex.org/emp/$e"

  /** One markup fragment with its exact raw triple yield and the soft
    * extraction errors it causes.
    */
  final case class Frag(html: String, raw: Int, errors: Int = 0)

  // --- markup templates (triple yield in the comment is exact) ----------

  /** Nested typed items: Person ⟶ worksFor ⟶ Organization, plus a
    * registry-expanded additionalType. 8 raw: person type, name, email,
    * additionalType, expanded rdf:type, worksFor; org type, name. 6 of them
    * are keyed by the person and 2 by the organization.
    */
  def person(p: Int, nOrgs: Int): Frag = {
    val o = p % nOrgs
    Frag(s"""<div itemscope itemtype="${S}Person" itemid="${personIri(p)}"><span itemprop="name">Person $p</span><span itemprop="email">p$p@ex.org</span><link itemprop="additionalType" href="$CustomerClass"><div itemprop="worksFor" itemscope itemtype="${S}Organization" itemid="${orgIri(o)}"><span itemprop="name">Org $o</span></div></div>""", 8)
  }

  /** `itemref` sharing: two items pull their properties from one shared
    * element. 6 raw: (type, orderStatus, orderDate) per item.
    */
  def shared(k: Int): Frag =
    Frag(s"""<div itemscope itemtype="${S}Order" itemid="http://ex.org/order/$k" itemref="m$k"></div><div itemscope itemtype="${S}Invoice" itemid="http://ex.org/invoice/$k" itemref="m$k"></div><p id="m$k"><span itemprop="orderStatus">S${k % 5}</span><time itemprop="orderDate" datetime="2026-01-${"%02d".format(k % 28 + 1)}">that day</time></p>""", 6)

  /** Anonymous (skolem) item; its subject is content-addressed by the
    * document, so every document asserts a distinct mention. 2 + |keys| raw.
    */
  def anon(e: Int, keys: Seq[String]): Frag =
    Frag(s"""<div itemscope itemtype="${S}Event"><span itemprop="name">Meetup $e</span>""" +
      keys.map(k => s"""<span itemprop="contact">$k</span>""").mkString + "</div>", 2 + keys.size)

  /** Reverse property: the shop's makesOffer edge points at the item.
    * 3 raw: offer type, price, (shop makesOffer offer).
    */
  def offer(q: Int): Frag =
    Frag(s"""<div itemscope itemtype="${S}Offer" itemid="http://ex.org/offer/$q"><span itemprop="price">${q % 100}.99</span><link itemprop-reverse="makesOffer" href="http://ex.org/shop/${q % 50}"></div>""", 3)

  /** Reverse property with a literal value, which the extractor drops with
    * one soft error. 2 raw: offer type, price.
    */
  def badOffer(q: Int): Frag =
    Frag(s"""<div itemscope itemtype="${S}Offer" itemid="http://ex.org/offer/x$q"><span itemprop="price">${q % 100}.49</span><span itemprop-reverse="makesOffer">shop ${q % 50}</span></div>""", 2, errors = 1)

  /** Org-chart node. 2 raw (type, name) + reportsTo when it has a manager
    * + jobTitle when it manages someone.
    */
  def employee(e: Int, parent: Int, manager: Boolean): Frag = {
    val rt = if (parent >= 0) s"""<link itemprop="reportsTo" href="${empIri(parent)}">""" else ""
    val jt = if (manager) """<span itemprop="jobTitle">Manager</span>""" else ""
    Frag(s"""<div itemscope itemtype="${S}Person" itemid="${empIri(e)}"><span itemprop="name">Employee $e</span>$rt$jt</div>""",
      2 + (if (parent >= 0) 1 else 0) + (if (manager) 1 else 0))
  }

  /** Schema declarations: email ⊑ contactPoint, worksFor ≡ employer,
    * reportsTo inverseOf manages, and (optionally) reportsTo transitive.
    * One raw triple per declaration. The fold corpus leaves out the
    * transitive one, which the incremental closure refuses.
    */
  def schema(transitive: Boolean): Frag = {
    def decl(subj: String, pred: String, obj: String) =
      s"""<div itemscope itemid="$subj"><link itemprop="$pred" href="$obj"></div>"""
    val t = if (transitive) s"""<div itemscope itemtype="${Owl}TransitiveProperty" itemid="$ReportsTo"></div>""" else ""
    Frag(decl(S + "email", Rdfs + "subPropertyOf", S + "contactPoint") +
      decl(S + "worksFor", Owl + "equivalentProperty", "http://ex.org/vocab/employer") +
      decl(ReportsTo, Owl + "inverseOf", Manages) + t, if (transitive) 4 else 3)
  }

  private val chatLines = Vector(
    "Sure, I can help with that.", "Could you share the order number?",
    "The weather looks fine for the trip.", "Let me check the schedule for you.",
    "Thanks, that answers my question.", "Here is a summary of the meeting notes.",
    "I have updated the draft as requested.", "Please confirm the delivery address.")
  /** Plain chat: no "item" substring, so the markup filter drops it. */
  def chat(r: java.util.SplittableRandom): String =
    chatLines(r.nextInt(chatLines.size)) + " " + chatLines(r.nextInt(chatLines.size))
  /** Decoys yield no triple. The first two quote an attribute name in prose
    * and pass the whole markup filter; the third only says "item", so it
    * passes the filter's cheap `contains("item")` stage and fails its regex.
    */
  private val decoyLines = Vector(
    "The itemprop attribute names a property of an item.",
    "Use itemscope to open a new item in the markup.",
    "Each line item in the invoice was checked twice.")
  val DecoysPassingFilter = 2
  def decoy(r: java.util.SplittableRandom): String = decoyLines(r.nextInt(decoyLines.size))

  /** A generated document (one transcript turn), its exact raw yield and
    * its soft extraction errors.
    */
  final case class Doc(conv: String, turn: Int, text: String, raw: Int, errors: Int = 0)

  def toTurns(docs: Seq[Doc]): Seq[Turn] = docs.map { d =>
    Turn(d.conv, d.turn, if (d.turn % 2 == 0) "user" else "assistant", d.text, null,
      new java.sql.Timestamp(1767225600000L + d.turn * 60000L))
  }

  /** Random recursive tree: node e > 0 reports to a uniform earlier node. */
  final case class OrgTree(parent: Array[Int]) {
    val n: Int = parent.length
    val depth: Array[Int] = {
      val d = new Array[Int](n)
      (1 until n).foreach(e => d(e) = d(parent(e)) + 1)
      d
    }
    val children: Array[Int] = {
      val c = new Array[Int](n)
      (1 until n).foreach(e => c(parent(e)) += 1)
      c
    }
  }
  def orgTree(r: java.util.SplittableRandom, n: Int, existing: Option[OrgTree] = None): OrgTree = {
    val p = Array.fill(n)(-1)
    val from = existing.map(_.n).getOrElse(1)
    existing.foreach(t => System.arraycopy(t.parent, 0, p, 0, t.n))
    (from until n).foreach(e => p(e) = r.nextInt(e))
    OrgTree(p)
  }

  def rng(seed: Long, workload: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ workload.hashCode.toLong)

  /** Conversation assigner: `hotTurnShare` of the turns land in the
    * `hotConvShare` hottest conversations; turn indices are dense per
    * conversation, so (conv_id, turn_idx) is unique.
    */
  final class Convs(r: java.util.SplittableRandom, prefix: String, nConvs: Int,
                    hotConvShare: Double, hotTurnShare: Double) {
    private val nHot = math.max(1, (nConvs * hotConvShare).round.toInt)
    private val next = new Array[Int](nConvs)
    def take(): (String, Int) = {
      val c = if (r.nextDouble() < hotTurnShare) r.nextInt(nHot) else nHot + r.nextInt(nConvs - nHot)
      val t = next(c); next(c) += 1
      (s"$prefix$c", t)
    }
  }

  // --- bulk_build ---------------------------------------------------------

  /** `softErrorShare` of the markup turns carry one [[badOffer]]. */
  final case class BulkMix(turns: Int, markupShare: Double, decoyShare: Double, softErrorShare: Double,
                           hotConvShare: Double, hotTurnShare: Double, files: Int)
  final case class Bulk(docs: Vector[Doc], mix: BulkMix) {
    def statements: Long = docs.iterator.map(_.raw.toLong).sum
    def softErrors: Long = docs.iterator.map(_.errors.toLong).sum
  }

  def bulk(seed: Long, mix: BulkMix): Bulk = {
    val r = rng(seed, "bulk_build")
    val convs = new Convs(r, s"b$seed-", math.max(mix.turns / 20, 100), mix.hotConvShare, mix.hotTurnShare)
    val docs = Vector.tabulate(mix.turns) { i =>
      val (conv, turn) = convs.take()
      val u = r.nextDouble()
      if (u < mix.markupShare) {
        val frags = (0 until 1 + r.nextInt(3)).map { _ =>
          r.nextInt(4) match {
            case 0 => person(r.nextInt(20000), 200)
            case 1 => shared(r.nextInt(10000))
            case 2 => anon(i, Seq(s"k${r.nextInt(50000)}", s"k${r.nextInt(50000)}").distinct)
            case _ => offer(r.nextInt(10000))
          }
        } ++ (if (r.nextDouble() < mix.softErrorShare) Seq(badOffer(i)) else Nil)
        Doc(conv, turn, "Here is what I found: " + frags.map(_.html).mkString(" ") + " Anything else?",
          frags.map(_.raw).sum, frags.map(_.errors).sum)
      } else if (u < mix.markupShare + mix.decoyShare) Doc(conv, turn, decoy(r), 0)
      else Doc(conv, turn, chat(r), 0)
    }
    Bulk(docs, mix)
  }

  // --- nightly_fold -------------------------------------------------------

  final case class FoldMix(basePersons: Int, baseEmployees: Int, chains: Int, baseSolos: Int,
                           baseChat: Int, batches: Int, newPersons: Int, newEmployees: Int,
                           chainSteps: Int, newSolos: Int, recrawlShare: Double, batchChat: Int)
  final case class Fold(base: Vector[Doc], batches: Vector[Vector[Doc]], mix: FoldMix) {
    /** Expected link state after the base and the first `k` batches:
      * (nodes, components). A chain of m mentions links m + 1 keys into one
      * component; a solo mention and its key are a component of their own.
      */
    def linkState(k: Int): (Long, Long) = {
      val chainMentions = mix.chains.toLong + k.toLong * mix.chainSteps
      val solos = mix.baseSolos.toLong + k.toLong * mix.newSolos
      (2 * chainMentions + mix.chains + 2 * solos, mix.chains + solos)
    }
  }

  def fold(seed: Long, mix: FoldMix): Fold = {
    val r = rng(seed, "nightly_fold")
    var tree = orgTree(r, mix.baseEmployees)
    val chainNext = Array.fill(mix.chains)(0)
    var soloId = 0
    var personNext = 0
    def chainMention(j: Int, id: Int): Frag = {
      val n = chainNext(j); chainNext(j) += 1
      anon(id, Seq(s"chain$j-$n", s"chain$j-${n + 1}"))
    }
    def solo(id: Int): Frag = { soloId += 1; anon(id, Seq(s"solo-$soloId")) }
    def docsOf(prefix: String, frags: Seq[Frag], chats: Int): Vector[Doc] = {
      val all = frags.map(f => (f.html, f.raw)) ++ Seq.fill(chats)((chat(r), 0))
      all.zipWithIndex.map { case ((h, raw), i) => Doc(s"$prefix${i / 12}", i % 12, h, raw) }.toVector
    }
    val baseFrags = Vector.newBuilder[Frag]
    baseFrags += schema(transitive = false)
    (0 until mix.basePersons).foreach { _ => baseFrags += person(personNext, 50); personNext += 1 }
    (0 until tree.n).foreach(e => baseFrags += employee(e, tree.parent(e), manager = false))
    (0 until mix.chains).foreach(j => baseFrags += chainMention(j, j))
    (0 until mix.baseSolos).foreach(i => baseFrags += solo(100000 + i))
    val base = docsOf(s"f$seed-0-", baseFrags.result(), mix.baseChat)
    var crawled = base
    val batches = (1 to mix.batches).map { b =>
      val from = tree.n
      tree = orgTree(r, from + mix.newEmployees, Some(tree))
      val fr = Vector.newBuilder[Frag]
      (0 until mix.newPersons).foreach { _ => fr += person(personNext, 50); personNext += 1 }
      (from until tree.n).foreach(e => fr += employee(e, tree.parent(e), manager = false))
      (0 until mix.chainSteps).foreach(i => fr += chainMention(r.nextInt(mix.chains), b * 1000 + i))
      (0 until mix.newSolos).foreach(i => fr += solo(b * 100000 + i))
      val fresh = docsOf(s"f$seed-$b-", fr.result(), mix.batchChat)
      val recrawl = Vector.fill((fresh.size * mix.recrawlShare).toInt)(crawled(r.nextInt(crawled.size))).distinct
      crawled = crawled ++ fresh
      fresh ++ recrawl
    }.toVector
    Fold(base, batches, mix)
  }

  // --- graph_query --------------------------------------------------------

  final case class QueryMix(persons: Int, orgs: Int, employees: Int, offers: Int,
                            shareds: Int, chatTurns: Int, queries: Int)
  /** One query of the mix: its kind, QueryMain arguments (sans --graph,
    * --table and --output), the binding columns its answer is compared on
    * and the expected answer as sorted [[row]]s. DESCRIBE is compared on
    * (subj, pred, obj), obj being the IRI or else the lexical form. ASK has
    * no QueryMain form: it carries (employee, candidate manager) for "does
    * e report to the employee named m?" and expects one empty row for true,
    * none for false.
    */
  final case class Query(kind: String, args: Seq[String], columns: Seq[String], answer: Seq[String],
                         ask: (Int, Int) = null) {
    def expected: Long = answer.size.toLong
  }
  /** One answer row as compared: bindings joined by tabs, unbound as "-". */
  def row(values: Seq[String]): String = values.map(v => if (v == null) "-" else v).mkString("\t")
  private def answer(rows: Seq[Seq[String]]): Seq[String] = rows.map(row).sorted
  final case class QueryCorpus(docs: Vector[Doc], mix: QueryMix, tree: OrgTree, queries: Vector[Query]) {
    def statements: Long = docs.iterator.map(_.raw.toLong).sum
  }

  def query(seed: Long, mix: QueryMix): QueryCorpus = {
    val r = rng(seed, "graph_query")
    val tree = orgTree(r, mix.employees)
    val frags = Vector.newBuilder[Frag]
    frags += schema(transitive = true)
    (0 until mix.persons).foreach(p => frags += person(p, mix.orgs))
    (0 until tree.n).foreach(e => frags += employee(e, tree.parent(e), tree.children(e) > 0))
    (0 until mix.offers).foreach(q => frags += offer(q))
    (0 until mix.shareds).foreach(k => frags += shared(k))
    val fs = frags.result()
    val docs = fs.grouped(4).zipWithIndex.map { case (g, i) =>
      Doc(s"q$seed-${i / 16}", i % 16, g.map(_.html).mkString(" "), g.map(_.raw).sum)
    }.toVector ++ Vector.tabulate(mix.chatTurns)(i => Doc(s"qc$seed-${i / 16}", i % 16, chat(r), 0))

    def iri(s: String) = s"<$s>"
    // every query of a kind returns the same number of rows on every seed,
    // so a round of the mix does the same work whatever the seed
    val kinds = Vector("bgp_star", "bgp_lookup", "path", "describe", "optional", "minus", "ask")
    def pick(ok: Int => Boolean): Int = {
      val c = (0 until tree.n).filter(ok)
      require(c.nonEmpty, "org tree lacks a node of the wanted shape")
      c(r.nextInt(c.size))
    }
    val leafKids = new Array[Int](tree.n)
    (1 until tree.n).foreach(e => if (tree.children(e) == 0) leafKids(tree.parent(e)) += 1)
    val PathDepth = 6
    def ancestors(e: Int): Seq[Int] = Iterator.iterate(tree.parent(e))(tree.parent(_)).takeWhile(_ >= 0).toSeq
    def kids(m: Int): Seq[Int] = (m + 1 until tree.n).filter(tree.parent(_) == m)
    val qs = Vector.tabulate(mix.queries) { i =>
      kinds(i % kinds.size) match {
        case "bgp_star" =>
          val o = r.nextInt(mix.orgs)
          Query("bgp_star", Seq(
            "--pattern", s"?p ${iri(Rdf + "type")} ${iri(S + "Person")}",
            "--pattern", s"?p ${iri(S + "name")} ?n",
            "--pattern", s"?p ${iri(S + "email")} ?e",
            "--pattern", s"?p ${iri(S + "worksFor")} ${iri(orgIri(o))}"), Seq("p", "n", "e"),
            answer((0 until mix.persons).filter(_ % mix.orgs == o).map(p => Seq(personIri(p), s"Person $p", s"p$p@ex.org"))))
        case "bgp_lookup" =>
          val p = r.nextInt(mix.persons)
          Query("bgp_lookup", Seq("--pattern", s"${iri(personIri(p))} ${iri(S + "name")} ?n"), Seq("n"),
            answer(Seq(Seq(s"Person $p"))))
        case "path" =>
          val e = pick(tree.depth(_) == PathDepth)
          Query("path", Seq("--pattern", s"${iri(empIri(e))} ${iri(ReportsTo)}+ ?m"), Seq("m"),
            answer(ancestors(e).map(a => Seq(empIri(a)))))
        case "describe" =>
          val p = r.nextInt(mix.persons)
          val s0 = personIri(p)
          Query("describe", Seq("--describe", "p", "--pattern", s"""?p ${iri(S + "email")} "p$p@ex.org""""),
            Seq("subj", "pred", "obj"), answer(Seq(
              Seq(s0, Rdf + "type", S + "Person"), Seq(s0, S + "name", s"Person $p"),
              Seq(s0, S + "email", s"p$p@ex.org"), Seq(s0, S + "additionalType", CustomerClass),
              Seq(s0, Rdf + "type", CustomerClass), Seq(s0, S + "worksFor", orgIri(p % mix.orgs)))))
        case "optional" =>
          val m = pick(tree.children(_) == 3)
          Query("optional", Seq("--pattern", s"?e ${iri(ReportsTo)} ${iri(empIri(m))}",
            "--optional", s"?e ${iri(S + "jobTitle")} ?t"), Seq("e", "t"),
            answer(kids(m).map(c => Seq(empIri(c), if (tree.children(c) > 0) "Manager" else null))))
        case "minus" =>
          val m = pick(e => tree.children(e) == 3 && leafKids(e) == 2)
          Query("minus", Seq("--pattern", s"?e ${iri(ReportsTo)} ${iri(empIri(m))}",
            "--minus", s"?e ${iri(S + "jobTitle")} ?t"), Seq("e"),
            answer(kids(m).filter(tree.children(_) == 0).map(c => Seq(empIri(c)))))
        case _ =>
          // true and false alternate by round
          val e = pick(tree.depth(_) == PathDepth)
          val truth = (i / kinds.size) % 2 == 0
          Query("ask", Nil, Nil, if (truth) Seq(row(Nil)) else Nil, (e, if (truth) tree.parent(e) else e))
      }
    }
    QueryCorpus(docs, mix, tree, qs)
  }
}
