package graft.spark

import graft.model.Triple
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .withExtensions(AnalysisCount.register)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def turns(rows: (String, Int, String)*) =
    rows.toDF("conv_id", "turn_idx", "text")

  test("extracts triples from markup turns only; lineage carried") {
    val t = turns(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="http://x/p1"><span itemprop="name">Ann</span></div>"""),
      ("c1", 1, "no markup here"),
      ("c2", 0, """<div itemscope><data itemprop="n" value="5"/></div>"""))
    val out = ExtractPipeline.extract(t).collect()
    assert(out.count(_.conv_id == "c1") == 2) // type + name
    assert(out.count(_.conv_id == "c2") == 1)
    val lit5 = out.find(_.conv_id == "c2").get
    assert(lit5.obj_lexical == "5" &&
      lit5.obj_datatype == "http://www.w3.org/2001/XMLSchema#integer")
    assert(lit5.turn_idx == 0)
  }

  test("extraction is invariant under repartitioning (skolem determinism)") {
    val t = Transcripts.synthetic(spark, 200, 10)
    val a = ExtractPipeline.extract(t).collect().toSet
    val b = ExtractPipeline.extract(t.repartition(13)).collect().toSet
    assert(a.map(x => (x.subj, x.pred, x.obj_iri, x.obj_lexical)) ==
      b.map(x => (x.subj, x.pred, x.obj_iri, x.obj_lexical)))
  }

  test("canonicalize collapses duplicate statements across turns") {
    val t = turns(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/de"><span itemprop="name">DE</span></div>"""),
      ("c2", 5, """<div itemscope itemtype="http://schema.org/Country" itemid="http://x/de"><span itemprop="name">DE</span></div>"""))
    val raw = ExtractPipeline.extract(t)
    assert(raw.count() == 4)
    assert(ExtractPipeline.canonicalize(raw).count() == 2)
  }

  test("error accumulator counts soft failures (itemref recursion)") {
    val acc = spark.sparkContext.longAccumulator("errs")
    val t = turns(("c1", 0,
      """<div itemscope><div id="r"><div itemprop="f" itemscope><div itemprop="g" itemref="r" itemscope></div></div></div></div>"""))
    val n = ExtractPipeline.extract(t, errorCounter = acc).count()
    assert(n == 0)
    assert(acc.value > 0)
  }

  test("markup pre-filter is case-insensitive: uppercase attribute rows still extract") {
    val turns = Seq(
      ("c1", 0, """<DIV ITEMSCOPE ITEMTYPE="http://schema.org/Person"><SPAN ITEMPROP="name">Ann</SPAN></DIV>"""),
      ("c2", 0, "no markup at all"))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.extract(turns).collect()
    assert(triples.exists(t => t.pred == "http://schema.org/name" && t.obj_lexical == "Ann"))
  }

  test("owlEntail reaches the fixpoint of spo1/eqp1/eqp2 (reference expansion_spec cases)") {
    val base = Seq(
      Triple("http://x/me", "http://x/name", null, "Gregg", null, null, "c", 0),
      Triple("http://x/name", Entailment.SubPropertyOf, "http://foaf/name", null, null, null, "c", 0),
      Triple("http://foaf/name", Entailment.EquivalentProperty, "http://x/label", null, null, null, "c", 0)
    ).toDS()
    val out = Entailment.owlEntail(base).collect()
    val preds = out.filter(_.subj == "http://x/me").map(_.pred).toSet
    // name ⊑ foaf:name (spo1); foaf:name ≡ label (eqp1 forward)
    assert(preds == Set("http://x/name", "http://foaf/name", "http://x/label"))
    // eqp2: x label y would also re-derive foaf:name — idempotent, no dup rows
    assert(out.groupBy(t => (t.subj, t.pred, t.obj_lexical)).forall(_._2.size == 1))
  }

  test("owlEntail prp-eqp2: equivalence rewrites backwards (expansion_spec.rb:92-101)") {
    val base = Seq(
      Triple("http://x/me", "http://foaf/name", null, "Gregg Kellogg", null, null, "c", 0),
      Triple("http://x/name", Entailment.EquivalentProperty, "http://foaf/name", null, null, null, "c", 0)
    ).toDS()
    val out = Entailment.owlEntail(base).collect()
    assert(out.exists(t => t.subj == "http://x/me" && t.pred == "http://x/name" &&
      t.obj_lexical == "Gregg Kellogg"))
    assert(out.length == 3) // base 2 + the one derived fact, nothing else
  }

  test("RegistryIndex.fromUri loads file: URIs identically to fromFile") {
    val path = java.nio.file.Files.createTempFile("reg", ".json")
    java.nio.file.Files.writeString(path,
      """{"http://ex.org/v/": {"properties": {"extra": {"subPropertyOf": "http://ex.org/p"}}}}""")
    val byFile = graft.core.RegistryIndex.fromFile(path.toString)
    val byUri = graft.core.RegistryIndex.fromUri(path.toUri.toString)
    val byBare = graft.core.RegistryIndex.fromUri(path.toString)
    assert(byUri.find("http://ex.org/v/T").isDefined)
    assert(byUri.find("http://ex.org/v/T") == byFile.find("http://ex.org/v/T"))
    assert(byBare.find("http://ex.org/v/T") == byFile.find("http://ex.org/v/T"))
  }

  test("owlEntail is a no-op without schema edges") {
    val base = Seq(Triple("http://x/a", "http://x/p", "http://x/b", null, null, null, "c", 0)).toDS()
    assert(Entailment.owlEntail(base).count() == 1)
  }

  private def tripleKeys(ds: org.apache.spark.sql.Dataset[Triple]): Set[(String, String, String, String)] =
    ds.collect().map(t => (t.subj, t.pred, t.obj_iri, t.obj_lexical)).toSet

  test("owlEntailIncremental equals the from-scratch closure when the delta is plain facts") {
    val g0 = Seq(
      Triple("http://x/me", "http://x/name", null, "Gregg", null, null, "c", 0),
      Triple("http://x/name", Entailment.SubPropertyOf, "http://foaf/name", null, null, null, "c", 0)
    ).toDS()
    val delta = Seq(
      Triple("http://x/you", "http://x/name", null, "Ada", null, null, "c", 1)).toDS()
    val closed = Entailment.owlEntail(g0)
    val incr = Entailment.owlEntailIncremental(closed, delta)
    val scratch = Entailment.owlEntail(g0.union(delta))
    assert(tripleKeys(incr) == tripleKeys(scratch))
    // the increment derived: you foaf:name Ada
    assert(tripleKeys(incr).contains(("http://x/you", "http://foaf/name", null, "Ada")))
  }

  test("owlEntailIncremental: a schema edge ARRIVING in the delta replays over the closed graph") {
    val g0 = Seq(
      Triple("http://x/me", "http://x/name", null, "Gregg", null, null, "c", 0)).toDS()
    val delta = Seq(
      // two-level chain: old facts must derive through BOTH new edges
      Triple("http://x/name", Entailment.SubPropertyOf, "http://x/label", null, null, null, "s", 0),
      Triple("http://x/label", Entailment.EquivalentProperty, "http://x/title", null, null, null, "s", 0)
    ).toDS()
    val closed = Entailment.owlEntail(g0) // trivially closed (no edges)
    val incr = Entailment.owlEntailIncremental(closed, delta)
    val scratch = Entailment.owlEntail(g0.union(delta))
    assert(tripleKeys(incr) == tripleKeys(scratch))
    assert(tripleKeys(incr).contains(("http://x/me", "http://x/title", null, "Gregg")))
  }

  test("owlEntailIncremental: an already-known delta is a no-op returning the closure") {
    val g0 = Seq(
      Triple("http://x/me", "http://x/name", null, "Gregg", null, null, "c", 0),
      Triple("http://x/name", Entailment.SubPropertyOf, "http://foaf/name", null, null, null, "c", 0)
    ).toDS()
    val closed = Entailment.owlEntail(g0)
    val incr = Entailment.owlEntailIncremental(closed, g0)
    assert(tripleKeys(incr) == tripleKeys(closed))
    assert(incr.count() == closed.count())
  }

  test("graphDiff: added/removed surface with signs, unchanged and lineage-only changes don't") {
    val old = Seq(
      Triple("a", "p", "b", null, null, null, "c1", 0),
      Triple("a", "q", null, "lit", "dt", null, "c1", 0),
      Triple("z", "p", "b", null, null, null, "c1", 0)).toDS()
    val nw = Seq(
      Triple("a", "p", "b", null, null, null, "c9", 9), // lineage differs: SAME triple
      Triple("a", "q", null, "lit", "dt", null, "c1", 0),
      Triple("n", "p", "b", null, null, null, "c2", 1)).toDS()
    val out = ExtractPipeline.graphDiff(old, nw)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("+", "n"), ("-", "z")))
  }

  test("owlEntail prp-inv: inverseOf swaps subject/object both directions; literals stay out") {
    val base = Seq(
      Triple("http://x/a", "http://x/boss", "http://x/b", null, null, null, "c", 0),
      Triple("http://x/c", "http://x/rep", "http://x/d", null, null, null, "c", 0),
      // literal object: boss's inverse must NOT derive a literal subject
      Triple("http://x/a", "http://x/boss", null, "not-an-iri", null, null, "c", 0),
      Triple("http://x/boss", Entailment.InverseOf, "http://x/rep", null, null, null, "s", 0)
    ).toDS()
    val out = Entailment.owlEntail(base).collect()
    assert(out.exists(t => t.subj == "http://x/b" && t.pred == "http://x/rep" &&
      t.obj_iri == "http://x/a")) // forward direction
    assert(out.exists(t => t.subj == "http://x/d" && t.pred == "http://x/boss" &&
      t.obj_iri == "http://x/c")) // inverse declaration works backwards too
    assert(!out.exists(t => t.subj == "not-an-iri"),
      "a literal object must never become a subject")
    // closed: re-inverting a derived edge lands on an already-seen fact
    assert(out.length == base.count().toInt + 2)
  }

  test("owlEntail prp-symp: a SymmetricProperty edge derives its reverse, once") {
    val base = Seq(
      Triple("http://x/a", "http://x/knows", "http://x/b", null, null, null, "c", 0),
      Triple("http://x/knows", Entailment.RdfType, Entailment.SymmetricProperty,
        null, null, null, "s", 0)
    ).toDS()
    val out = Entailment.owlEntail(base).collect()
    assert(out.exists(t => t.subj == "http://x/b" && t.pred == "http://x/knows" &&
      t.obj_iri == "http://x/a"))
    assert(out.length == 3) // base 2 + the one symmetric fact; fixpoint closed
  }

  test("owlEntail cax-sco: subClassOf chain closes transitively through the fixpoint") {
    val base = Seq(
      Triple("http://x/ann", Entailment.RdfType, "http://x/Person", null, null, null, "c", 0),
      Triple("http://x/Person", Entailment.SubClassOf, "http://x/Agent", null, null, null, "s", 0),
      Triple("http://x/Agent", Entailment.SubClassOf, "http://x/Thing", null, null, null, "s", 0)
    ).toDS()
    val types = Entailment.owlEntail(base).collect()
      .filter(t => t.subj == "http://x/ann" && t.pred == Entailment.RdfType)
      .map(_.obj_iri).toSet
    assert(types == Set("http://x/Person", "http://x/Agent", "http://x/Thing"))
  }

  test("owlEntailWithTransitive: rewrite-derived edges feed the transitive closure") {
    // q ⊑ p with q-edges a→b→c, and p declared transitive: round 1's
    // rewrite derives the p edges, the closure then adds a→c — the
    // interaction the outer fixpoint exists for
    val base = Seq(
      Triple("a", "q", "b", null, null, null, "c", 0),
      Triple("b", "q", "c", null, null, null, "c", 0),
      Triple("q", Entailment.SubPropertyOf, "p", null, null, null, "s", 0),
      Triple("p", Entailment.RdfType, Entailment.TransitiveProperty,
        null, null, null, "s", 0)
    ).toDS()
    val out = Entailment.owlEntailWithTransitive(base).collect()
    val pEdges = out.filter(_.pred == "p").map(t => (t.subj, t.obj_iri)).toSet
    assert(pEdges == Set("a" -> "b", "b" -> "c", "a" -> "c"))
    // and no spurious q-closure: q is NOT transitive
    assert(!out.exists(t => t.pred == "q" && t.subj == "a" && t.obj_iri == "c"))
  }

  test("owlEntailWithTransitive: no transitive declarations degrades to owlEntail") {
    val base = Seq(
      Triple("a", "p", "b", null, null, null, "c", 0),
      Triple("b", "p", "c", null, null, null, "c", 0)).toDS()
    assert(Entailment.owlEntailWithTransitive(base).count() == 2)
  }

  test("owlEntailWithTransitive derives literal-TERMINAL facts (prp-trp final hop)") {
    // prp-trp: x p y ∧ y p z ⇒ x p z, where z MAY be a literal (only
    // intermediate nodes must be IRIs). a→b→c→"leaf": every ancestor of c
    // must derive the literal fact, language tag intact.
    val p = "http://x/anc"
    val base = Seq(
      Triple(p, Entailment.RdfType, Entailment.TransitiveProperty, null, null, null, "s", 0),
      Triple("http://x/a", p, "http://x/b", null, null, null, "c", 0),
      Triple("http://x/b", p, "http://x/c", null, null, null, "c", 1),
      Triple("http://x/c", p, null, "leaf", null, "en", "c", 2)).toDS()
    val out = Entailment.owlEntailWithTransitive(base).collect()
    def hasLit(s: String) = out.exists(t => t.subj == s && t.pred == p &&
      t.obj_iri == null && t.obj_lexical == "leaf" && t.obj_lang == "en")
    assert(hasLit("http://x/a") && hasLit("http://x/b"))
    // IRI closure still complete alongside
    assert(out.exists(t => t.subj == "http://x/a" && t.obj_iri == "http://x/c"))
    // and set semantics hold (no duplicate derivations)
    assert(out.length == out.map(t =>
      (t.subj, t.pred, t.obj_iri, t.obj_lexical, t.obj_datatype, t.obj_lang)).distinct.length)
  }

  test("owlEntail cax-eqc: equivalentClass rewrites types in both directions") {
    val base = Seq(
      Triple("http://x/ann", Entailment.RdfType, "http://x/Human", null, null, null, "c", 0),
      Triple("http://x/bob", Entailment.RdfType, "http://x/Person", null, null, null, "c", 0),
      Triple("http://x/Person", Entailment.EquivalentClass, "http://x/Human", null, null, null, "s", 0)
    ).toDS()
    val out = Entailment.owlEntail(base).collect()
    assert(out.exists(t => t.subj == "http://x/ann" && t.obj_iri == "http://x/Person"))
    assert(out.exists(t => t.subj == "http://x/bob" && t.obj_iri == "http://x/Human"))
    assert(out.length == 5)
  }

  test("markup prefilter pushes into the scan plan") {
    val t = Transcripts.synthetic(spark, 10, 2)
    val plan = ExtractPipeline.extract(t).queryExecution.executedPlan.toString
    // the rlike filter must appear before (above) the extraction mapPartitions
    assert(plan.contains("RLIKE") || plan.contains("rlike"))
  }

  test("N-Triples sink serializes IRIs, skolems, typed and tagged literals") {
    val t = turns(("c1", 0,
      """<div itemscope itemtype="http://schema.org/Person" lang="en"><span itemprop="name">Ann</span><data itemprop="n" value="5"/></div>"""))
    val nt = ExtractPipeline.toNTriples(ExtractPipeline.extract(t))
      .as[String].collect().toSet
    assert(nt.exists(l => l.startsWith("_:") &&
      l.contains("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .")))
    assert(nt.exists(_.contains("\"Ann\"@en")))
    assert(nt.exists(_.contains("\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
  }

  test("N-Triples sink escapes bare control chars as \\uXXXX, matching core NTriples.escape") {
    import graft.model.{Term, Triple}
    // U+000B / U+0001 are reachable via numeric character references in
    // markup; the column serializer must agree with the row-local one
    val lex = "abc " + 11.toChar + "\"q\"" + 1.toChar + " \\ \n\t end" // 11 = U+000B, 1 = U+0001
    val t = Seq(Triple("http://s", "http://p", null, lex, null, null, "c", 0)).toDS()
    val line = ExtractPipeline.toNTriples(t).as[String].head()
    val expected = "<http://s> <http://p> " +
      graft.core.NTriples.termToString(Term.Lit(lex, null, null)) + " ."
    assert(line == expected)
    assert(line.contains("\\u000B") && line.contains("\\u0001"))
    // and a control-free literal takes the cheap path unchanged
    val plain = Seq(Triple("http://s", "http://p", null, "plain text", null, null, "c", 0)).toDS()
    assert(ExtractPipeline.toNTriples(plain).as[String].head() ==
      "<http://s> <http://p> \"plain text\" .")
  }

  test("per-turn document base resolves relative references") {
    val t = turns(("c9", 4,
      """<div itemscope itemtype="http://schema.org/Person" itemid="people/9"><a itemprop="url" href="bio">bio</a></div>"""))
    val out = ExtractPipeline.extract(t, basePrefix = "http://corpus.example/").collect()
    val subj = out.map(_.subj).distinct
    assert(subj.toSeq == Seq("http://corpus.example/c9/people/9"))
    assert(out.exists(x => x.pred == "http://schema.org/url" &&
      x.obj_iri == "http://corpus.example/c9/bio"))
  }

  test("driver contract: entry() yields rows on sf0.001; all queries declared") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
    // every oracle entry has a matching query
    val qs = graft.SparkEntry.queries.keySet
    assert(graft.SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("EntityStats salt splits a single-conversation hot subject across reducers") {
    // hot subject, ONE conversation, many turns: the (conv_id, turn_idx)
    // salt must still spread it (a conv_id-only salt would collapse to 1)
    val hot = (0 until 64).map(i =>
      Triple("http://x/hot", s"http://x/p$i", null, s"v$i", null, null, "conv-1", i)).toDS()
    val salts = hot.select(pmod(hash($"conv_id", $"turn_idx"), lit(16)).as("s"))
      .distinct().count()
    assert(salts >= 2)
    val out = EntityStats.bySubject(hot).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 64 && out.head.getLong(2) == 64)
  }

  test("subject-bucketed graph table co-locates subject joins with NO shuffle") {
    val triples = ExtractPipeline.canonicalize(
      ExtractPipeline.extract(Transcripts.synthetic(spark, 400, 20)))
    ExtractPipeline.writeGraphBucketedBySubject(triples, "graph_bucketed", buckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so the bucketing (not a broadcast) must
      // supply the distribution; the bucketed scans satisfy it shuffle-free
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("graph_bucketed")
      val joined = t.as("a").join(t.as("b"), "subj")
        .groupBy(col("subj")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS graph_bucketed")
    }
  }

  test("turn ordering invariant: window by conv_id/turn_idx is stable") {
    val t = Transcripts.synthetic(spark, 100, 5)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
    val r1 = t.withColumn("rn", row_number().over(w))
      .select($"conv_id", $"rn", md5($"text")).collect().toSet
    val r2 = t.repartition(7).withColumn("rn", row_number().over(w))
      .select($"conv_id", $"rn", md5($"text")).collect().toSet
    assert(r1 == r2)
  }

  test("Resume: a failed write commits no mark, keeps committed rows") {
    // dynamic overwrite replaces only the partitions a job writes, and a
    // FAILED job commits none of them and no manifest marks
    val out = "file://" + java.nio.file.Files.createTempDirectory("graftresume_fail").toString
    val n = 4
    val t = Transcripts.synthetic(spark, 60, 6)
    Resume.writeWithResume(t, out, nBuckets = n)
    // reopen one bucket that holds rows; every other bucket stays committed
    val conv = Resume.readGraph(spark, out).select("conv_id").head().getString(0)
    val crc = new java.util.zip.CRC32()
    crc.update(conv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val reopened = (crc.getValue % n).toInt
    val manifest = new org.apache.hadoop.fs.Path(out, "_graft_manifest")
    manifest.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(manifest, s"bucket-$reopened"), false)
    def snapshot = Resume.readGraph(spark, out).collect().map(_.toString).toSet
    val before = snapshot
    val committed = Resume.completedBuckets(spark, out)
    // the rerun fails on the input of one conversation in the reopened bucket
    val failing = t.withColumn("text",
      when($"conv_id" === conv, raise_error(lit("injected input failure"))).otherwise($"text"))
    val e = intercept[Exception](Resume.writeWithResume(failing, out, nBuckets = n))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("injected input failure")), msgs(e).mkString(" | "))
    assert(snapshot == before)
    assert(Resume.completedBuckets(spark, out) == committed)
  }
}
