package graft.core

import org.scalatest.funsuite.AnyFunSuite
import TestGraph.{check, checkCtx, extract}

/** Per-rule unit tests transcribed from the reference's spec tables
  * (/root/reference/spec/reader_spec.rb:84-876). Each case is an HTML
  * fragment vs an expected N-Triples graph, compared by bnode-bijection
  * isomorphism.
  */
class ExtractorSpec extends AnyFunSuite {

  test("parses a simple graph") {
    checkCtx(
      """<p>My name is <span itemprop="name">Gregg Kellogg</span>.</p>""",
      """_:a <http://schema.org/name> "Gregg Kellogg" .""")
  }

  // ---- values (reader_spec.rb:90-235) ----
  val valueCases: Seq[(String, String)] = Seq(
    ("""<p>My name is <span itemprop="name">Gregg Kellogg</span></p>""",
     """_:a <http://schema.org/name> "Gregg Kellogg" ."""),
    ("""<p>My name is <span itemprop="name">Gregg</span></p>
        <p>My name is <span itemprop="name">Kellogg</span></p>""",
     """_:a <http://schema.org/name> "Gregg" .
        _:a <http://schema.org/name> "Kellogg" ."""),
    ("""<p>My name is <span itemprop="name fullName">Gregg Kellogg</span></p>""",
     """_:a <http://schema.org/name> "Gregg Kellogg" .
        _:a <http://schema.org/fullName> "Gregg Kellogg" ."""),
    ("""<p>My name is <span itemprop="http://schema.org/name">Gregg Kellogg</span></p>""",
     """_:a <http://schema.org/name> "Gregg Kellogg" ."""),
    ("""<meta itemprop="meta" content="foo"/>""",
     """_:a <http://schema.org/meta> "foo" ."""),
    ("""<span itemprop="span" content="foo">Bar</span>""",
     """_:a <http://schema.org/span> "foo" ."""),
    ("""<audio itemprop="audio" src="foo"></audio>""",
     """_:a <http://schema.org/audio> <foo> ."""),
    ("""<embed itemprop="embed" src="foo"></embed>""",
     """_:a <http://schema.org/embed> <foo> ."""),
    ("""<iframe itemprop="iframe" src="foo"></iframe>""",
     """_:a <http://schema.org/iframe> <foo> ."""),
    ("""<img itemprop="img" src="foo"/>""",
     """_:a <http://schema.org/img> <foo> ."""),
    ("""<source itemprop="source" src="foo"/>""",
     """_:a <http://schema.org/source> <foo> ."""),
    ("""<track itemprop="track" src="foo"/>""",
     """_:a <http://schema.org/track> <foo> ."""),
    ("""<video itemprop="video" src="foo"></video>""",
     """_:a <http://schema.org/video> <foo> ."""),
    ("""<a itemprop="a" href="foo"></a>""",
     """_:a <http://schema.org/a> <foo> ."""),
    ("""<area itemprop="area" href="foo"/>""",
     """_:a <http://schema.org/area> <foo> ."""),
    ("""<link itemprop="link" href="foo"/>""",
     """_:a <http://schema.org/link> <foo> ."""),
    ("""<object itemprop="object" data="foo"/>""",
     """_:a <http://schema.org/object> <foo> ."""),
    ("""<time itemprop="time" datetime="2011-06-28Z">28 June 2011</time>""",
     """_:a <http://schema.org/time> "2011-06-28Z"^^<http://www.w3.org/2001/XMLSchema#date> ."""),
    ("""<time itemprop="time" datetime="00:00:00Z">midnight</time>""",
     """_:a <http://schema.org/time> "00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#time> ."""),
    ("""<time itemprop="time" datetime="2011-06-28T00:00:00Z">28 June 2011 at midnight</time>""",
     """_:a <http://schema.org/time> "2011-06-28T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> ."""),
    ("""<time itemprop="time" datetime="P2011Y06M28DT00H00M00S">2011 years 6 months 28 days</time>""",
     """_:a <http://schema.org/time> "P2011Y06M28DT00H00M00S"^^<http://www.w3.org/2001/XMLSchema#duration> ."""),
    ("""<time itemprop="time" datetime="foo">28 June 2011</time>""",
     """_:a <http://schema.org/time> "foo" ."""),
    ("""<div itemprop="knows" itemscope=''><a href="http://manu.sporny.org/">Manu</a></div>""",
     """_:a <http://schema.org/knows> _:b ."""),
    ("""<data itemprop="data" value="1"/>""",
     """_:a <http://schema.org/data> "1"^^<http://www.w3.org/2001/XMLSchema#integer> ."""),
    ("""<data itemprop="data" value="1.1"/>""",
     """_:a <http://schema.org/data> "1.1"^^<http://www.w3.org/2001/XMLSchema#double> ."""),
    ("""<data itemprop="data" value="1.1e1"/>""",
     """_:a <http://schema.org/data> "1.1e1"^^<http://www.w3.org/2001/XMLSchema#double> ."""),
    ("""<data itemprop="data" value="foo"/>""",
     """_:a <http://schema.org/data> "foo" ."""),
    ("""<data itemprop="data" lang="en" value="foo"/>""",
     """_:a <http://schema.org/data> "foo" ."""),
    ("""<meter itemprop="meter" value="1"/>""",
     """_:a <http://schema.org/meter> "1"^^<http://www.w3.org/2001/XMLSchema#integer> ."""),
    ("""<meter itemprop="meter" value="1.1"/>""",
     """_:a <http://schema.org/meter> "1.1"^^<http://www.w3.org/2001/XMLSchema#double> ."""),
    ("""<meter itemprop="meter" value="1.1e1"/>""",
     """_:a <http://schema.org/meter> "1.1e1"^^<http://www.w3.org/2001/XMLSchema#double> ."""),
    ("""<meter itemprop="meter" value="foo"/>""",
     """_:a <http://schema.org/meter> "foo" ."""),
    ("""<meter itemprop="meter" lang="en" value="foo"/>""",
     """_:a <http://schema.org/meter> "foo" ."""))

  valueCases.zipWithIndex.foreach { case ((md, nt), i) =>
    test(s"values[$i]: ${md.take(60)}") { checkCtx(md, nt) }
  }

  // ---- base_uri (reader_spec.rb:237-295) ----
  val baseCases: Seq[(String, String)] = Seq(
    ("""<audio itemprop="audio" src="foo"></audio>""", "audio"),
    ("""<embed itemprop="embed" src="foo"></embed>""", "embed"),
    ("""<iframe itemprop="iframe" src="foo"></iframe>""", "iframe"),
    ("""<img itemprop="img" src="foo"/>""", "img"),
    ("""<source itemprop="source" src="foo"/>""", "source"),
    ("""<track itemprop="track" src="foo"/>""", "track"),
    ("""<video itemprop="video" src="foo"></video>""", "video"),
    ("""<a itemprop="a" href="foo"></a>""", "a"),
    ("""<area itemprop="area" href="foo"/>""", "area"),
    ("""<link itemprop="link" href="foo"/>""", "link"))

  baseCases.foreach { case (md, prop) =>
    test(s"base_uri: $prop") {
      val mdDoc = s"""<div itemscope='' itemtype="http://schema.org/Person">$md</div>"""
      val nt =
        s"""_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
           _:a <http://schema.org/$prop> <http://example.com/foo> ."""
      check(mdDoc, nt, base = "http://example.com/")
    }
  }

  test("base_uri: knows href") {
    check(
      """<div itemscope='' itemtype="http://schema.org/Person"><a itemprop="knows" href="scor">Stéphane Corlosquet</a></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/knows> <http://example.com/scor> .""",
      base = "http://example.com/")
  }

  // ---- itemid (reader_spec.rb:297-376): subject from @itemid ----
  def checkItemid(md: String, nt: String): Unit =
    check(
      s"""<div itemid="subj" itemscope='' itemtype="http://schema.org/Person">$md</div>""",
      """<subj> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .""" + "\n" + nt)

  test("itemid: literal") {
    checkItemid("""<p>My name is <span itemprop="name">Gregg Kellogg</span></p>""",
      """<subj> <http://schema.org/name> "Gregg Kellogg" .""")
  }
  test("itemid: content") {
    checkItemid("""<meta itemprop="meta" content="foo"/>""",
      """<subj> <http://schema.org/meta> "foo" .""")
  }
  test("itemid: url and time") {
    checkItemid("""<img itemprop="img" src="foo"/><time itemprop="time" datetime="2011-06-28T00:00:00Z">x</time>""",
      """<subj> <http://schema.org/img> <foo> .
         <subj> <http://schema.org/time> "2011-06-28T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .""")
  }
  test("itemid: nested item with itemid") {
    checkItemid("""<div itemprop="knows" itemscope='' itemid="obj"><a href="http://manu.sporny.org/">Manu</a></div>""",
      """<subj> <http://schema.org/knows> <obj> .""")
  }
  // the remaining URL-element rows of the reference's itemid table
  // (reader_spec.rb:319-361), transcribed in full
  val itemidUrlCases: Seq[(String, String)] = Seq(
    ("""<audio itemprop="audio" src="foo"></audio>""", "audio"),
    ("""<embed itemprop="embed" src="foo"></embed>""", "embed"),
    ("""<iframe itemprop="iframe" src="foo"></iframe>""", "iframe"),
    ("""<source itemprop="source" src="foo"/>""", "source"),
    ("""<track itemprop="track" src="foo"/>""", "track"),
    ("""<video itemprop="video" src="foo"></video>""", "video"),
    ("""<a itemprop="a" href="foo"></a>""", "a"),
    ("""<area itemprop="area" href="foo"/>""", "area"),
    ("""<link itemprop="link" href="foo"/>""", "link"),
    ("""<object itemprop="object" data="foo"/>""", "object"))
  itemidUrlCases.foreach { case (md, prop) =>
    test(s"itemid: URL element $prop") {
      checkItemid(md, s"""<subj> <http://schema.org/$prop> <foo> .""")
    }
  }

  // ---- itemtype (reader_spec.rb:378-531) ----
  test("itemtype: no type, token property → base fragment predicate") {
    check("""<div><div itemscope=''><p id="a">Name: <span itemprop="name">Amanda</span></p></div></div>""",
      """_:a <#name> "Amanda" .""")
  }
  test("itemtype: empty type, token property") {
    check("""<div><div itemscope='' itemtype=""><p id="a">Name: <span itemprop="name">Amanda</span></p></div></div>""",
      """_:a <#name> "Amanda" .""")
  }
  test("itemtype: relative type, token property") {
    check("""<div><div itemscope='' itemtype="Person"><p id="a">Name: <span itemprop="name">Amanda</span></p></div></div>""",
      """_:a <#name> "Amanda" .""")
  }
  test("itemtype: single type, token property") {
    check("""<div><div itemscope='' itemtype="http://schema.org/Person"><p id="a">Name: <span itemprop="name">Amanda</span></p></div></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: multiple types, first governs vocab") {
    check("""<div><div itemscope='' itemtype="http://schema.org/Person http://xmlns.com/foaf/0.1/Person"><p id="a">Name: <span itemprop="name">Amanda</span></p></div></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .
         _:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: no type, URI property") {
    check("""<div><div itemscope=''><p id="a">Name: <span itemprop="http://schema.org/name">Amanda</span></p></div></div>""",
      """_:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: empty type, URI property") {
    check("""<div><div itemscope='' itemtype=""><p id="a">Name: <span itemprop="http://schema.org/name">Amanda</span></p></div></div>""",
      """_:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: relative type, URI property") {
    check("""<div><div itemscope='' itemtype="Person"><p id="a">Name: <span itemprop="http://schema.org/name">Amanda</span></p></div></div>""",
      """_:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: single type, URI property") {
    check("""<div><div itemscope='' itemtype="http://schema.org/Person"><p id="a">Name: <span itemprop="http://schema.org/name">Amanda</span></p></div></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: multiple types, URI property") {
    check("""<div><div itemscope='' itemtype="http://schema.org/Person http://xmlns.com/foaf/0.1/Person"><p id="a">Name: <span itemprop="http://schema.org/name">Amanda</span></p></div></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .
         _:a <http://schema.org/name> "Amanda" .""")
  }
  test("itemtype: inherited vocab into untyped nested item") {
    check("""<div itemscope='' itemtype="http://schema.org/Person">
              <p>Name: <span itemprop="name">Gregg</span></p>
              <div itemprop="knows" itemscope="">
                <p id="a">Name: <span itemprop="name">Jeni</span></p>
              </div>
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Gregg" .
         _:a <http://schema.org/knows> _:b .
         _:b <http://schema.org/name> "Jeni" .""")
  }

  // ---- itemref (reader_spec.rb:533-665) ----
  test("itemref: to single id") {
    check("""<div>
              <div itemscope='' itemtype="http://schema.org/Person" id="amanda" itemref="a"></div>
              <p id="a">Name: <span itemprop="name">Amanda</span></p>
            </div>""",
      """_:x <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:x <http://schema.org/name> "Amanda" .""")
  }
  test("itemref: generates listed property values") {
    check("""<div>
              <div itemscope='' itemtype="http://schema.org/Person" itemref="surname">
                <p>My name is <span itemprop="name">Gregg</span></p>
              </div>
              <p id="surname">My name is <span itemprop="name">Kellogg</span></p>
            </div>""",
      """_:x <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:x <http://schema.org/name> "Gregg" .
         _:x <http://schema.org/name> "Kellogg" .""")
  }
  test("itemref: to single id with different types") {
    check("""<div>
              <div itemscope='' itemtype="http://xmlns.com/foaf/0.1/Person" id="amanda" itemref="a"></div>
              <div itemscope='' itemtype="http://schema.org/Person" id="amanda" itemref="a"></div>
              <p id="a">Name: <span itemprop="name">Amanda</span></p>
            </div>""",
      """_:s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:s <http://schema.org/name> "Amanda" .
         _:f <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .
         _:f <http://xmlns.com/foaf/0.1/name> "Amanda" .""")
  }
  test("itemref: to multiple ids") {
    check("""<div>
              <div itemscope='' itemtype="http://schema.org/Person" id="amanda" itemref="a b"></div>
              <p id="a">Name: <span itemprop="name">Amanda</span></p>
              <p id="b" itemprop="band">Jazz Band</p>
            </div>""",
      """_:x <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:x <http://schema.org/name> "Amanda" .
         _:x <http://schema.org/band> "Jazz Band" .""")
  }
  test("itemref: with chaining") {
    check("""<div>
              <div itemscope='' itemtype="http://schema.org/Person" id="amanda" itemref="a b"></div>
              <p id="a">Name: <span itemprop="name">Amanda</span></p>
              <div id="b" itemprop="band" itemscope='' itemtype="http://schema.org/MusicGroup" itemref="c"></div>
              <div id="c">
               <p>Band: <span itemprop="name">Jazz Band</span></p>
               <p>Size: <span itemprop="size">12</span> players</p>
              </div>
            </div>""",
      """_:x <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:x <http://schema.org/name> "Amanda" .
         _:x <http://schema.org/band> _:y .
         _:y <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/MusicGroup> .
         _:y <http://schema.org/name> "Jazz Band" .
         _:y <http://schema.org/size> "12" .""")
  }
  test("itemref: shared structure → same skolem object") {
    check("""<div>
              <div itemscope='' itemref="a"></div>
              <div itemscope='' itemref="a"></div>
              <div id="a" itemprop="refers-to" itemscope=''>
                <span itemprop="name">Amanda</span>
              </div>
            </div>""",
      """_:p <#refers-to> _:a .
         _:q <#refers-to> _:a .
         _:a <#name> "Amanda" .""")
  }
  test("itemref: catches infinite recursion") {
    val md = """
      <!DOCTYPE html>
      <html><body>
      <div itemscope>
        <div id="ref">
          <div itemprop="name">friend1</div>
          <div itemprop="friend" itemscope>
            <div itemprop="name">friend2</div>
            <div itemprop="friend" itemref="ref" itemscope></div>
          </div>
        </div>
      </div>
      </body></html>"""
    val res = extract(md)
    assert(res.errors.exists(_.contains("itemref recursion")))
    assert(res.triples.isEmpty)
  }

  test("itemref: target inside the item's own subtree still yields its properties") {
    // reader.rb:403-406's reached-twice CrawlFailure is INERT at runtime
    // (fresh NodeProxy wrappers never match Array#include?'s identity
    // compare), so the reference emits the property — possibly twice, the
    // duplicates collapsing in the graph. Match that observable behavior.
    check("""<div itemscope itemtype="http://schema.org/Person" itemref="inside">
              <div id="inside"><span itemprop="name">Ann</span></div>
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Ann" .""")
  }
  test("itemref: overlapping targets yield the property set, not a crawl failure") {
    check("""<div itemscope itemtype="http://schema.org/Person" itemref="a b"></div>
             <div id="a"><span id="b" itemprop="name">Ann</span></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Ann" .""")
  }
  test("itemprop/itemtype/itemref tokens split on any whitespace run (Ruby split(' ') semantics)") {
    check("<div itemscope itemtype=\"http://schema.org/Person\nhttp://xmlns.com/foaf/0.1/Person\"><span itemprop=\"name\tfullName\">Ann</span></div>",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .
         _:a <http://schema.org/name> "Ann" .
         _:a <http://schema.org/fullName> "Ann" .""")
  }

  // ---- propertyURI generation (reader_spec.rb:667-753) ----
  test("propertyURI: http://foo/bar + baz → http://foo/baz") {
    check("""<div itemscope='' itemtype='http://foo/bar'><p itemprop='baz'>FooBar</p></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://foo/bar> .
         _:a <http://foo/baz> "FooBar" .""")
  }
  test("propertyURI: http://foo#bar + baz → http://foo#baz") {
    check("""<div itemscope='' itemtype='http://foo#bar'><p itemprop='baz'>FooBar</p></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://foo#bar> .
         _:a <http://foo#baz> "FooBar" .""")
  }
  test("propertyURI: vocab context through nested items") {
    check("""<div itemscope='' itemtype='http://foo#Type'><p itemscope='' itemprop='bar'><span itemprop='baz'>Baz</span></p></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://foo#Type> .
         _:a <http://foo#bar> _:b .
         _:b <http://foo#baz> "Baz" .""")
  }

  // ---- itemprop-reverse (reader_spec.rb:755-844) ----
  test("reverse: link") {
    check("""<div itemscope itemtype="http://schema.org/Person">
              <span itemprop="name">William Shakespeare</span>
              <link itemprop-reverse="creator" href="http://www.freebase.com/m/0yq9mqd">
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "William Shakespeare" .
         <http://www.freebase.com/m/0yq9mqd> <http://schema.org/creator> _:a .""")
  }
  test("reverse: itemscope") {
    check("""<div itemscope itemtype="http://schema.org/ShoppingCenter">
              <span itemprop="name">The Mall</span>
              <div itemprop-reverse="containedIn" itemscope itemtype="http://schema.org/Restaurant">
                <span itemprop="name">Resto</span>
              </div>
              <div itemprop-reverse="containedIn" itemscope itemtype="http://schema.org/Bakery">
                <span itemprop="name">Bakery</span>
              </div>
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/ShoppingCenter> .
         _:a <http://schema.org/name> "The Mall" .
         _:b <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Restaurant> .
         _:b <http://schema.org/name> "Resto" .
         _:b <http://schema.org/containedIn> _:a .
         _:c <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Bakery> .
         _:c <http://schema.org/name> "Bakery" .
         _:c <http://schema.org/containedIn> _:a .""")
  }
  test("reverse: literal value is an error and is dropped") {
    val md = """<div itemscope itemtype="http://schema.org/Person">
                 <span itemprop="name">William Shakespeare</span>
                 <meta itemprop-reverse="creator" content="foo">
               </div>"""
    val res = extract(md)
    TestGraph.assertIsomorphic(res.triples,
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "William Shakespeare" .""")
    assert(res.errors.exists(_.contains("may not be a literal")))
  }
  test("reverse: itemprop and itemprop-reverse combined") {
    check("""<div itemscope itemtype="http://schema.org/Organization">
              <span itemprop="name">Cryptography Users</span>
              <div itemprop-reverse="memberOf" itemprop="member" itemscope
                    itemtype="http://schema.org/OrganizationRole">
                <div itemprop-reverse="memberOf" itemprop="member" itemscope
                        itemtype="http://schema.org/Person">
                  <span itemprop="name">Alice</span>
                </div>
                <span itemprop="startDate">1977</span>
              </div>
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Organization> .
         _:a <http://schema.org/name> "Cryptography Users" .
         _:a <http://schema.org/member> _:b .
         _:b <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/OrganizationRole> .
         _:b <http://schema.org/startDate> "1977" .
         _:b <http://schema.org/member> _:c .
         _:b <http://schema.org/memberOf> _:a .
         _:c <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:c <http://schema.org/name> "Alice" .
         _:c <http://schema.org/memberOf> _:b .""")
  }

  // ---- additional edge semantics implied by the processing rules ----
  test("edge: duplicate itemprop tokens collapse under set semantics") {
    check("""<div itemscope='' itemtype="http://schema.org/Person"><span itemprop="name name">Ann</span></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Ann" .""")
  }
  test("edge: itemscope wins over content attribute (nested item, not literal)") {
    check("""<div itemscope='' itemtype="http://schema.org/Person"><div itemprop="knows" itemscope='' content="IGNORED" itemid="http://x/b"></div></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/knows> <http://x/b> .""")
  }
  test("edge: itemref to a nonexistent id is ignored") {
    check("""<div itemscope='' itemtype="http://schema.org/Person" itemref="nope"><span itemprop="name">Ann</span></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Ann" .""")
  }
  test("edge: time element without datetime scans its text") {
    check("""<div itemscope='' itemtype="http://schema.org/Person"><time itemprop="born">1815-12-10</time></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/born> "1815-12-10"^^<http://www.w3.org/2001/XMLSchema#date> .""")
  }
  test("edge: URL element with missing href resolves to the base itself") {
    check("""<div itemscope='' itemtype="http://schema.org/Person"><a itemprop="url"></a></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/url> <http://example.com/page> .""",
      base = "http://example.com/page")
  }
  test("edge: entities decode inside attribute values and text") {
    check("""<div itemscope='' itemtype="http://schema.org/Person"><a itemprop="url" href="x?a=1&amp;b=2">go</a><span itemprop="name">AC&#47;DC &amp; Co</span></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/url> <x?a=1&b=2> .
         _:a <http://schema.org/name> "AC/DC & Co" .""")
  }
  test("edge: itemid on a non-itemscope element is ignored") {
    check("""<div itemscope='' itemtype="http://schema.org/Person"><span itemid="http://x/ignored" itemprop="name">Ann</span></div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://schema.org/name> "Ann" .""")
  }

  // ---- inline vocabulary expansion (reader_spec.rb:846-876) ----
  test("expansion: additionalType always expands (http)") {
    check("""<div itemscope='' itemtype='http://schema.org/Person'>
              <link itemprop='additionalType' href='http://xmlns.com/foaf/0.1/Person' />
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .
         _:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .
         _:a <http://schema.org/additionalType> <http://xmlns.com/foaf/0.1/Person> .""")
  }
  test("expansion: additionalType always expands (https)") {
    check("""<div itemscope='' itemtype='https://schema.org/Person'>
              <link itemprop='additionalType' href='http://xmlns.com/foaf/0.1/Person' />
            </div>""",
      """_:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Person> .
         _:a <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .
         _:a <https://schema.org/additionalType> <http://xmlns.com/foaf/0.1/Person> .""")
  }

  // ---- composite golden documents ----
  // Top-level items are independent (html.rb / reader.rb getItems walks each
  // itemscope subtree separately), so a document concatenating the golden
  // example fragments must extract the UNION of their graphs — with bnode
  // labels made disjoint per constituent (bijection matching does the rest).
  // This exercises multi-item documents, document-wide id lookup for
  // itemref (example2's id="home" must resolve inside the larger DOM), and
  // lang scoping across sibling subtrees. No id/itemref collisions exist
  // between example1/2/3 (verified: example1 uses URL-shaped ids, example2
  // uses "home", example3 none).
  def composite(names: String*): Unit = {
    val html = names.map(n => "<div>\n" + TestGraph.resource(s"/golden/$n.html") + "\n</div>")
      .mkString("\n")
    val nt = names.zipWithIndex.map { case (n, i) =>
      TestGraph.resource(s"/golden/$n.nt").replace("_:", s"_:c$i")
    }.mkString("\n")
    check(html, nt)
  }
  test("composite golden: example1 + example2") { composite("example1", "example2") }
  test("composite golden: example2 + example3") { composite("example2", "example3") }
  test("composite golden: example1 + example2 + example3") {
    composite("example1", "example2", "example3")
  }

  // ---- reader URI options validate:/canonicalize: (reader.rb:83-88, 464-466) ----

  test("UriOptions.validate flags a relative itemid (no base) as a soft error, triple kept verbatim") {
    val html = """<div itemscope itemtype="http://schema.org/Person" itemid="people/1"><span itemprop="name">Ann</span></div>"""
    val default = Extractor.extract(html, "d", null, TestGraph.testRegistry)
    assert(default.errors.isEmpty) // verbatim policy: options off = fixture behavior
    val validated = Extractor.extract(html, "d", null, TestGraph.testRegistry,
      UriOptions(validate = true))
    assert(validated.errors.exists(_.contains("relative IRI")))
    // validation flags, never mutates: the triples are identical
    assert(validated.triples == default.triples)
  }

  test("UriOptions.validate passes a fully-resolved absolute graph silently") {
    val html = """<div itemscope itemtype="http://schema.org/Person" itemid="people/1"><a itemprop="url" href="x">l</a></div>"""
    val r = Extractor.extract(html, "d", "http://ex.org/base/", TestGraph.testRegistry,
      UriOptions(validate = true))
    assert(r.errors.isEmpty)
    assert(r.triples.exists(_.subj == "http://ex.org/base/people/1"))
  }

  test("UriOptions.canonicalize normalizes itemid and URL-property objects") {
    val html = """<div itemscope itemtype="http://schema.org/Person" itemid="HTTP://Ex.ORG:80/p/../q"><a itemprop="url" href="HTTPS://A.B:443/%2f">l</a></div>"""
    val r = Extractor.extract(html, "d", null, TestGraph.testRegistry,
      UriOptions(canonicalize = true))
    assert(r.triples.exists(_.subj == "http://ex.org/q"))
    assert(r.triples.exists(t => t.obj == graft.model.Term.Iri("https://a.b/%2F")))
    // itemtype tokens ARE uri()-routed (reader.rb:247 maps each through the
    // same helper as itemid/href) — an already-canonical type stays put
    assert(r.triples.exists(t => t.obj == graft.model.Term.Iri("http://schema.org/Person")))
  }

  test("UriOptions.canonicalize reaches itemtype tokens AND the derived vocabulary") {
    val html = """<div itemscope itemtype="HTTP://Schema.ORG/Person"><span itemprop="name">Ann</span></div>"""
    val r = Extractor.extract(html, "d", null, TestGraph.testRegistry,
      UriOptions(canonicalize = true))
    assert(r.triples.exists(t => t.obj == graft.model.Term.Iri("http://schema.org/Person")),
      "rdf:type object must be the canonical IRI")
    // vocab derives from the CANONICAL first type, so the registry entry is
    // found and the property lands in schema.org (the verbatim uppercase
    // form would miss the registry and mint HTTP://Schema.ORG/name)
    assert(r.triples.exists(_.pred == "http://schema.org/name"))
    // options off: fixture-verbatim behavior, uppercase type kept as given
    val v = Extractor.extract(html, "d", null, TestGraph.testRegistry)
    assert(v.triples.exists(t => t.obj == graft.model.Term.Iri("HTTP://Schema.ORG/Person")))
  }

  test("UriOptions.validate reports a relative itemtype token; default output unchanged") {
    val html = """<div itemscope itemtype="Person http://schema.org/Person"><span itemprop="name">Ann</span></div>"""
    val default = Extractor.extract(html, "d", null, TestGraph.testRegistry)
    assert(default.errors.isEmpty)
    // the relative token types nothing and does not govern the vocabulary
    assert(default.triples.collect { case t if t.pred == Extractor.RdfType => t.obj } ==
      Seq(graft.model.Term.Iri("http://schema.org/Person")))
    assert(default.triples.exists(_.pred == "http://schema.org/name"))
    val validated = Extractor.extract(html, "d", null, TestGraph.testRegistry,
      UriOptions(validate = true))
    assert(validated.errors == Seq("invalid IRI: relative IRI (no scheme): Person"))
    assert(validated.triples == default.triples)
  }

  test("foreign content: inside svg foreignObject a <span/> stays open, as in plain HTML") {
    check(
      """<svg><foreignObject><div itemscope><span itemprop="a"/>x</span></div></foreignObject></svg>""",
      """_:a <#a> "x" .""")
  }

  test("foreign content: every HTML integration point parses its content as HTML") {
    val item = """<div itemscope><span itemprop="a"/>x</span></div>"""
    def value(html: String) = extract(html).triples.map(_.obj)
    val asHtml = value(item)
    Seq("<svg><desc>" -> "</desc></svg>", "<svg><title>" -> "</title></svg>",
        "<math><mi>" -> "</mi></math>", "<math><mo>" -> "</mo></math>",
        "<math><mn>" -> "</mn></math>", "<math><ms>" -> "</ms></math>",
        "<math><mtext>" -> "</mtext></math>",
        """<math><annotation-xml encoding="Text/HTML">""" -> "</annotation-xml></math>",
        """<math><annotation-xml encoding="application/xhtml+xml">""" -> "</annotation-xml></math>")
      .foreach { case (open, close) => assert(value(open + item + close) == asHtml, open) }
    // not an integration point: XML self-closing still applies, the span is empty
    assert(value("<math><annotation-xml>" + item + "</annotation-xml></math>") ==
      Seq(graft.model.Term.Lit("")))
    // svg inside an integration point is foreign again
    assert(value("<svg><foreignObject><svg>" + item + "</svg></foreignObject></svg>") ==
      Seq(graft.model.Term.Lit("")))
  }
}
