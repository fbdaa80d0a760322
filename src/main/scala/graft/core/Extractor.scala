package graft.core

import graft.html.MicroDoc
import graft.html.MicroDoc.Elem
import graft.model.{RawTriple, Term}
import java.security.MessageDigest
import scala.collection.mutable

/** Result of extracting one document: triples in emission (document) order,
  * plus soft errors (the reference logs and continues, failing the job only
  * in validate mode — reader.rb:146-148).
  */
final case class ExtractResult(triples: Vector[RawTriple], errors: Vector[String])

/** Opt-in IRI treatment, the reference's reader options `validate:` /
  * `canonicalize:` applied in its `uri()` helper (reader.rb:83-88,
  * 464-466). Defaults mirror the reference (both off — the fixture-proven
  * verbatim-lexical policy). `validate` FLAGS invalid produced IRIs as soft
  * errors ([[ExtractResult.errors]] — the `--validate` CLI mode then fails
  * the job, reader.rb:146-148) without mutating the triple; `canonicalize`
  * rewrites IRIs via [[Rfc3986.canonicalizeIri]]. The reference's third
  * knob, `intern:`, is object interning — meaningless for Spark string
  * columns (Tungsten owns the memory), deliberately absent.
  */
final case class UriOptions(validate: Boolean = false, canonicalize: Boolean = false)
object UriOptions { val default: UriOptions = UriOptions() }

/** Microdata → triples extraction over a [[MicroDoc]] DOM.
  *
  * A from-scratch port of the W3C "Microdata to RDF" processing rules as the
  * reference applies them (/root/reference/lib/rdf/microdata/reader.rb:
  * 200-454): item discovery, subject selection, rdf:type emission, vocabulary
  * resolution, property crawl with itemref and cycle failure, element-kind
  * value typing, reverse properties, and inline registry expansion.
  *
  * Blank nodes are deterministic skolem IRIs `did:skolem:<sha256-16>` hashed
  * from (docId, element structural path) — replacing Ruby's in-memory
  * object-identity bnodes (reader.rb:236) so extraction is reproducible
  * across partitions, retries, and resume. Documents are row-local: the
  * whole algorithm runs inside one Spark task with no shuffle.
  */
object Extractor {
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val SkolemPrefix = "did:skolem:"

  private val SrcTags = Set("audio", "embed", "iframe", "img", "source", "track", "video")
  private val HrefTags = Set("a", "area", "link")
  private val ValueTags = Set("data", "meter")

  private final class CrawlFailure(msg: String) extends RuntimeException(msg)

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("SHA-256")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  def skolem(docId: String, path: String): String = {
    val md = digests.get()
    md.reset()
    val d = md.digest((docId + "|" + path).getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(SkolemPrefix.length + 32)
    sb.append(SkolemPrefix)
    var i = 0
    while (i < 16) {
      sb.append(HexChars((d(i) >> 4) & 0xf)).append(HexChars(d(i) & 0xf))
      i += 1
    }
    sb.toString
  }

  def isSkolem(iri: String): Boolean = iri.startsWith(SkolemPrefix)

  /** Extract all triples from one HTML text.
    *
    * @param html    the document / fragment markup
    * @param docId   stable document identity (e.g. conv_id + "#" + turn_idx)
    *                feeding skolem IDs
    * @param baseUri document base, or null when unknown (the reference then
    *                resolves against the empty URI, reader.rb:209)
    */
  def extract(html: String, docId: String, baseUri: String,
              registry: RegistryIndex,
              uriOptions: UriOptions = UriOptions.default): ExtractResult = {
    val doc = MicroDoc.parse(html)
    new Run(doc, docId, baseUri, registry, uriOptions).parseWholeDocument()
  }

  private final class Run(doc: MicroDoc.Doc, docId: String, baseUri0: String,
                          registry: RegistryIndex,
                          uriOpts: UriOptions = UriOptions.default) {
    private val triples = Vector.newBuilder[RawTriple]
    private val errors = Vector.newBuilder[String]
    // Element → subject, object-identity keyed (reader.rb:25-26, 232-242)
    private val memory = new java.util.IdentityHashMap[Elem, String]()
    private val hasReverse = doc.hasReverseAttr

    // parse_whole_document base computation (reader.rb:201-210 + nokogiri.rb:224-229)
    private val base: String = {
      val b = doc.docBase.orElse(Option(baseUri0)).orNull
      if (b != null) Rfc3986.stripFragment(b) else ""
    }

    def parseWholeDocument(): ExtractResult = {
      doc.topLevelItems.foreach(el => generateTriples(el, Vocab.none))
      ExtractResult(triples.result(), errors.result())
    }

    // the reference's uri() helper (reader.rb:457-467): resolve, then the
    // opt-in canonicalize/validate treatments in its order (validate sees
    // the canonical form when both are on, matching validate!-then-
    // canonicalize! on an already-joined RDF::URI — our flag-only validate
    // makes the order visible solely through the error MESSAGE text)
    private def uri(value: String, b: String): String = {
      var v = if (b != null) Rfc3986.resolve(b, value) else value
      if (uriOpts.canonicalize) v = Rfc3986.canonicalizeIri(v)
      if (uriOpts.validate)
        Rfc3986.validateIri(v).foreach(m => errors += s"invalid IRI: $m")
      v
    }

    private def add(subj: String, pred: String, obj: Term): Unit =
      triples += RawTriple(subj, pred, obj)

    /** reader.rb:230-327 generate_triples. Returns the item's subject. */
    private def generateTriples(item: Elem, vocabIn: Vocab): String = {
      // 1-2) subject: memory ≻ itemid ≻ fresh (deterministic) bnode
      val subject =
        if (memory.containsKey(item)) memory.get(item)
        else if (item.has("itemid"))
          uri(item.attr("itemid").get, Option(item.base).getOrElse(base))
        else skolem(docId, item.path)
      if (!memory.containsKey(item)) memory.put(item, subject)

      // 3-4) rdf:type per absolute itemtype token; first governs vocab.
      // Each token passes through uri() (reference: reader.rb maps types
      // via the same helper as itemid/href) so the opt-in canonicalize/
      // validate treatments reach type IRIs and the derived vocabulary —
      // with the default options uri(t, null) is the identity. The
      // absoluteness filter comes AFTER uri(), as in the reference's
      // map-then-select, so validate reports a relative token it drops.
      var tpe: String = null
      item.attr("itemtype").getOrElse("").split("\\s+").filter(_.nonEmpty)
        .map(uri(_, null)).filter(Rfc3986.isAbsolute).foreach { t =>
          if (tpe == null) tpe = t
          add(subject, RdfType, Term.Iri(t))
        }

      // 6-7) vocabulary: registry prefix match, else derived from type
      val vocab =
        if (tpe != null) registry.find(tpe).getOrElse(Vocab.derived(tpe))
        else vocabIn

      // 9) forward properties
      itemProperties(item, reverse = false).foreach { element =>
        element.attr("itemprop").getOrElse("").split("\\s+").filter(_.nonEmpty).foreach { name =>
          val predicate = vocab.predicateURI(name, base)
          val value: Term = propertyValue(element) match {
            case null => Term.Iri(generateTriples(element, vocab)) // nested item
            case v => v
          }
          add(subject, predicate, value)
          // 9.1.5) inline registry expansion (always on, reader_spec.rb:846-876)
          vocab.expand(predicate).foreach(eq => add(subject, eq, value))
        }
      }

      // 10) reverse properties (proposed-spec @itemprop-reverse, reader.rb:296-323)
      // cheap doc-level skip: most markup has no @itemprop-reverse at all,
      // and the reverse crawl would otherwise re-walk every item subtree
      if (hasReverse) itemProperties(item, reverse = true).foreach { element =>
        element.attr("itemprop-reverse").getOrElse("").split("\\s+").filter(_.nonEmpty).foreach { name =>
          val predicate = vocab.predicateURI(name, base)
          propertyValue(element) match {
            case null =>
              add(generateTriples(element, vocab), predicate, Term.Iri(subject))
            case Term.Iri(v) =>
              add(v, predicate, Term.Iri(subject))
            case lit =>
              errors += s"Value of @itemprop-reverse may not be a literal: $lit"
          }
        }
      }

      subject
    }

    /** reader.rb:336-342 item_properties: crawl failure → error + no props. */
    private def itemProperties(item: Elem, reverse: Boolean): Seq[Elem] =
      try crawlProperties(item, Nil, reverse)
      catch {
        case e: CrawlFailure => errors += e.getMessage; Nil
      }

    /** reader.rb:352-373 crawl_properties. The live recursion guard is the
      * underlying-node identity check (reader.rb:364).
      */
    private def crawlProperties(root: Elem, memo: List[Elem], reverse: Boolean): Seq[Elem] = {
      val collected = elementsInItem(root)
      val results = collected.filter(_.has(if (reverse) "itemprop-reverse" else "itemprop"))
      if (memo.exists(_ eq root)) throw new CrawlFailure("itemref recursion")
      val newMemo = root :: memo
      results.filter(_.has("itemscope"))
        .foreach(e => crawlProperties(e, newMemo, reverse))
      results
    }

    /** reader.rb:382-416 elements_in_item: BFS over children, itemscope
      * elements are frontier stops, itemref tokens pull in elements by id.
      */
    private def elementsInItem(root: Elem): Seq[Elem] = {
      val pending = mutable.Queue.empty[Elem]
      def enqueueChildren(e: Elem): Unit = {
        val ch = e.children
        var i = 0
        while (i < ch.length) {
          ch(i) match {
            case el: Elem => pending += el
            case _ =>
          }
          i += 1
        }
      }
      enqueueChildren(root)
      val itemref = root.attrRaw("itemref")
      if (itemref != null) itemref.split("\\s+").filter(_.nonEmpty)
        .foreach(id => doc.byId.get(id).foreach(pending += _))
      val results = mutable.ArrayBuffer.empty[Elem]
      // Revisit handling: the reference SOURCE (reader.rb:403-406) raises
      // CrawlFailure when a dequeued element is already in memo, but that
      // check is INERT at runtime — memo holds NodeProxy wrappers that are
      // freshly allocated per enqueue and compare by object identity, so
      // include? never matches. The reference therefore re-visits
      // overlapping itemref targets (itemref into the item's own subtree,
      // or two itemref tokens with nested targets) and emits duplicate
      // properties that collapse under graph set semantics. We match that
      // OBSERVABLE behavior by visiting each element once (same result
      // set, no duplicate work) instead of failing the crawl — a raise
      // here would drop property triples the reference actually emits.
      // (Genuine itemref RECURSION is still caught: crawl_properties'
      // node-identity memo check, reader.rb:364, is live in both.)
      val visited = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Elem, java.lang.Boolean]())
      while (pending.nonEmpty) {
        val current = pending.dequeue()
        if (visited.add(current)) {
          if (!current.has("itemscope")) enqueueChildren(current)
          results += current
        }
      }
      results.toSeq
    }

    /** reader.rb:420-454 property_value. Returns null for nested items
      * (the `{}` marker) so the caller recurses.
      */
    private def propertyValue(element: Elem): Term = {
      val b = Option(element.base).getOrElse(base)
      val tag = element.tag
      if (element.has("itemscope")) null
      else if (element.has("content"))
        Term.Lit(element.attr("content").get, lang = element.language)
      else if (ValueTags.contains(tag) && element.has("value")) {
        val v = element.attr("value").get
        Term.Lit(v, datatype = Lexical.numericDatatype(v)) // no language, even untyped
      } else if (SrcTags.contains(tag))
        Term.Iri(uri(element.attr("src").getOrElse(""), b))
      else if (HrefTags.contains(tag))
        Term.Iri(uri(element.attr("href").getOrElse(""), b))
      else if (tag == "object")
        Term.Iri(uri(element.attr("data").getOrElse(""), b))
      else if (tag == "time") {
        val v = element.attr("datetime").getOrElse(element.innerText)
        val dt = Lexical.temporalDatatype(v)
        if (dt != null) Term.Lit(v, datatype = dt)
        else Term.Lit(v, lang = element.language)
      } else Term.Lit(element.innerText, lang = element.language)
    }
  }
}
