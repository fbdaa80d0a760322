package graft.spark

import graft.model.Triple
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The nightly-crawl composition ([[IncrementalGraph]] / IncrementalMain) and
  * the streaming link-state maintainer: every standing artifact folded batch
  * over batch must equal its from-scratch rebuild.
  */
class IncrementalGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Contact = "http://schema.org/contact"

  private def mentionTurn(conv: String, idx: Int, k1: String, k2: String) =
    (conv, idx,
      s"""Card: <div itemscope itemtype="http://schema.org/Person"><span itemprop="contact">$k1</span><span itemprop="contact">$k2</span></div>""")

  /** (contact, rdfs:subPropertyOf, ex:key) — arrives THROUGH markup, so the
    * CLI path derives entailed facts from transcripts alone.
    */
  private def schemaTurn(conv: String, idx: Int) =
    (conv, idx,
      s"""Schema: <div itemscope itemid="$Contact"><link itemprop="http://www.w3.org/2000/01/rdf-schema#subPropertyOf" href="http://ex.org/key"></div>""")

  private def turns(rows: (String, Int, String)*) =
    rows.toDF("conv_id", "turn_idx", "text")

  // batch 1: {A, B} share k1; {C} isolated on k3. batch 2: k2 bridges B↔C
  // (cross-batch merge through the standing key node) + the schema edge
  private val batch1 = Seq(
    mentionTurn("c1", 0, "k1", "k1"),
    mentionTurn("c2", 0, "k1", "k2"),
    mentionTurn("c3", 0, "k3", "k3"))
  private val batch2 = Seq(
    mentionTurn("c4", 0, "k2", "k3"),
    schemaTurn("c5", 0))

  // (anc rdf:type owl:TransitiveProperty) through markup, and an anc chain
  // e1 → e2 → e3 whose top carries a language-tagged literal
  private val Anc = "http://ex.org/anc"
  private val ancDecl = ("t0", 0,
    s"""<div itemscope itemid="$Anc"><link itemprop="http://www.w3.org/1999/02/22-rdf-syntax-ns#type" href="http://www.w3.org/2002/07/owl#TransitiveProperty"></div>""")
  private def ancLink(conv: String, from: String, to: String) = (conv, 0,
    s"""<div itemscope itemid="http://ex.org/$from"><link itemprop="$Anc" href="http://ex.org/$to"></div>""")
  private val ancTurns = Seq(ancLink("t1", "e1", "e2"), ancLink("t2", "e2", "e3"),
    ("t3", 0, s"""<div itemscope itemid="http://ex.org/e3"><span itemprop="$Anc" lang="en">top</span></div>"""))
  private val ancHop = ancLink("t4", "e3", "e4")
  private def ancFact(s: String, o: String): Seq[Any] =
    Seq(s"http://ex.org/$s", Anc, s"http://ex.org/$o", null, null, null)
  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select("subj", "pred", "obj_iri", "obj_lexical", "obj_datatype", "obj_lang")
    .collect().map(_.toSeq).toSet

  test("IncrementalMain: two folded deltas equal the from-scratch build (graph, canonical view, closure)") {
    val root = Files.createTempDirectory("graftcrawl").toString
    val d1 = Files.createTempDirectory("graftcrawl_d1").toString
    val d2 = Files.createTempDirectory("graftcrawl_d2").toString
    turns(batch1: _*).write.mode("overwrite").parquet(d1)
    turns(batch2: _*).write.mode("overwrite").parquet(d2)

    val opts1 = Map("root" -> root, "input" -> d1, "link-keys" -> Contact, "entail" -> "true")
    val s1 = graft.IncrementalMain.run(opts1, spark)
    val s2 = graft.IncrementalMain.run(opts1 + ("input" -> d2), spark)
    assert(s1.batchId == 0 && s2.batchId == 1)
    assert(s1.newTriples > 0 && s2.newTriples > 0)
    // the schema edge replays STANDING facts: closure delta must exceed the
    // batch's own raw novelty
    assert(s2.newClosureTriples > s2.newTriples)

    def key(ds: org.apache.spark.sql.Dataset[Triple]) = ds.collect()
      .map(t => (t.subj, t.pred, t.obj_iri, t.obj_lexical, t.obj_datatype, t.obj_lang)).toSet
    val all = ExtractPipeline.canonicalize(
      ExtractPipeline.extract(turns(batch1 ++ batch2: _*))).localCheckpoint()

    // raw standing graph == one-shot extraction
    val raw = IncrementalGraph.readGraph(spark, root).df
      .select(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"),
        col("obj_datatype"), col("obj_lang"), col("conv_id"), col("turn_idx")).as[Triple]
    assert(key(raw) == key(all))

    // canonical view == from-scratch EntityLink.canonicalize; the k2 bridge
    // merged ALL three mentions (one canonical subject)
    val canon = IncrementalGraph.readCanonical(spark, root)
    assert(key(canon) == key(EntityLink.canonicalize(all, Seq(Contact))))
    val mentionSubs = canon.filter(col("pred") === Contact)
      .select(col("subj")).distinct().collect()
    assert(mentionSubs.length == 1)

    // standing closure == one-shot owlEntail (derived ex:key facts included)
    val closure = IncrementalGraph.readClosure(spark, root).df
      .select(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"),
        col("obj_datatype"), col("obj_lang"), col("conv_id"), col("turn_idx")).as[Triple]
    assert(key(closure) == key(Entailment.owlEntail(all)))
    assert(key(closure).exists(_._2 == "http://ex.org/key"))

    // the canonical view is queryable from the consumer CLI (--canonical):
    // one merged subject × the three contact keys = 3 bindings
    val bOut = Files.createTempDirectory("graftcrawl_b").toString + "/b"
    val n = graft.QueryMain.run(Array("--canonical", root, "--output", bOut,
      "--pattern", s"?s <$Contact> ?v"), spark)
    assert(n == 3)

    // crash-rerun of an already-folded delta: pure no-op novelty
    val s3 = graft.IncrementalMain.run(opts1 + ("input" -> d2), spark)
    assert(s3.newTriples == 0 && s3.newClosureTriples == 0)
    assert(key(IncrementalGraph.readGraph(spark, root).df
      .select(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"),
        col("obj_datatype"), col("obj_lang"), col("conv_id"), col("turn_idx")).as[Triple]) == key(all))

    // batch ids stay MONOTONE past the no-op: s3 wrote no batch_id
    // partition but committed link-state v2 under its id — a later fold
    // deriving its id from data alone would REUSE 2 and rewrite that live
    // version table in place (torn reads / corrupt pointer on crash)
    val d3 = Files.createTempDirectory("graftcrawl_d3").toString
    turns(mentionTurn("c6", 0, "k9", "k9")).write.mode("overwrite").parquet(d3)
    val s4 = graft.IncrementalMain.run(opts1 + ("input" -> d3), spark)
    assert(s3.batchId == 2 && s4.batchId == 3 && s4.newTriples > 0)
    assert(LinkStateStore.latestVersion(spark, s"$root/link_state")
      .contains(f"v${3L}%016d"))
  }

  test("incremental closure maintenance folds owl:TransitiveProperty: first batch and later delta") {
    // prp-trp is a rule of the one entailment fixpoint, so a transitive
    // declaration folds like any schema edge — in the first batch, or in a
    // later delta that must replay a clean standing closure through it
    def closure(root: String) = key(IncrementalGraph.readClosure(spark, root).df)
    def scratch(rows: (String, Int, String)*) =
      key(Entailment.owlEntail(ExtractPipeline.extract(turns(rows: _*))).toDF())
    def fold(root: String, rows: (String, Int, String)*) =
      IncrementalGraph.foldBatch(ExtractPipeline.extract(turns(rows: _*)).as[Triple],
        root, predBuckets = 4, entail = true)

    val root1 = Files.createTempDirectory("grafttrp1").toString
    fold(root1, ancTurns :+ ancDecl: _*)
    assert(closure(root1) == scratch(ancTurns :+ ancDecl: _*))
    assert(closure(root1).contains(ancFact("e1", "e3")))

    val root2 = Files.createTempDirectory("grafttrp2").toString
    fold(root2, ancTurns: _*)
    assert(!closure(root2).contains(ancFact("e1", "e3")))
    val s = fold(root2, ancDecl)
    assert(s.newClosureTriples > s.newTriples) // the standing chain replayed
    assert(closure(root2) == scratch(ancTurns :+ ancDecl: _*))
    assert(closure(root2).contains(ancFact("e1", "e3")))
    // a later hop on the now-transitive predicate joins the standing slice
    fold(root2, ancHop)
    assert(closure(root2) == scratch(ancTurns :+ ancDecl :+ ancHop: _*))
    assert(closure(root2).contains(ancFact("e1", "e4")))
  }

  test("linkStateStream: streamed micro-batches converge to the batch-built state; versions retained") {
    val in = Files.createTempDirectory("graftlss_in").toString
    val state = Files.createTempDirectory("graftlss_state").toString
    val cp = Files.createTempDirectory("graftlss_cp").toString
    val t1 = ExtractPipeline.extract(turns(batch1: _*)).localCheckpoint()
    val t2 = ExtractPipeline.extract(turns(batch2.take(1): _*)).localCheckpoint()

    def runStream(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Triple].schema)
        .parquet(s"$in/*").as[Triple]
      val q = graft.streaming.StreamingExtract.linkStateStream(
        stream, state, cp, Seq(Contact))
      q.processAllAvailable(); q.stop()
    }

    t1.write.parquet(s"$in/b1")
    runStream()
    val m1 = LinkStateStore.loadMapping(spark, state).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(m1 == EntityLink.mentionMapping(t1, Seq(Contact)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap)

    // second life of the stream: the k2↔k3 bridge merges standing components
    t2.write.parquet(s"$in/b2")
    runStream()
    val m2 = LinkStateStore.loadMapping(spark, state).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(m2 == EntityLink.mentionMapping(t1.union(t2), Seq(Contact)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap)
    assert(m2.values.toSet.size == 1) // everything merged

    // third life, no new input: state unchanged, retention holds (≤2 versions)
    runStream()
    val m3 = LinkStateStore.loadMapping(spark, state).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(m3 == m2)
    val versions = TableIO.default.listMetadata(spark, state, "v")
    assert(versions.nonEmpty && versions.size <= 2, s"versions = $versions")
  }

  test("closureStream: a mid-stream schema edge replays standing facts into the closure dir") {
    val in = Files.createTempDirectory("graftcs_in").toString
    val cl = Files.createTempDirectory("graftcs_cl").toString + "/closure"
    val cp = Files.createTempDirectory("graftcs_cp").toString
    val t1 = ExtractPipeline.extract(turns(batch1: _*)).localCheckpoint()
    val t2 = ExtractPipeline.extract(turns(schemaTurn("c5", 0))).localCheckpoint()

    def runStream(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Triple].schema)
        .parquet(s"$in/*").as[Triple]
      val q = graft.streaming.StreamingExtract.closureStream(stream, cl, cp, predBuckets = 4)
      q.processAllAvailable(); q.stop()
    }
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("subj", "pred", "obj_iri", "obj_lexical", "obj_datatype", "obj_lang")
      .collect().map(_.toSeq).toSet

    t1.write.parquet(s"$in/b1")
    runStream()
    assert(key(GraphQuery.loadGraph(spark, cl).df) == key(Entailment.owlEntail(t1).toDF()))

    // the schema edge alone arrives as batch 2: every standing contact fact
    // must replay through it (derived ex:key rows appear)
    t2.write.parquet(s"$in/b2")
    runStream()
    val after = key(GraphQuery.loadGraph(spark, cl).df)
    assert(after == key(Entailment.owlEntail(t1.union(t2)).toDF()))
    assert(after.exists(_(1) == "http://ex.org/key"))

    // stream restart with no new input: closure unchanged
    runStream()
    assert(key(GraphQuery.loadGraph(spark, cl).df) == after)
  }

  test("closureStream: a transitive declaration mid-stream closes the standing chain") {
    val in = Files.createTempDirectory("graftcst_in").toString
    val cl = Files.createTempDirectory("graftcst_cl").toString + "/closure"
    val cp = Files.createTempDirectory("graftcst_cp").toString
    val batches = Seq(ancTurns, Seq(ancDecl), Seq(ancHop))
      .map(rows => ExtractPipeline.extract(turns(rows: _*)).localCheckpoint())
    batches.zipWithIndex.foreach { case (b, i) =>
      b.write.parquet(s"$in/b$i")
      val stream = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Triple].schema)
        .parquet(s"$in/*").as[Triple]
      val q = graft.streaming.StreamingExtract.closureStream(stream, cl, cp, predBuckets = 4)
      q.processAllAvailable(); q.stop()
      assert(key(GraphQuery.loadGraph(spark, cl).df) ==
        key(Entailment.owlEntail(batches.take(i + 1).reduce(_ union _)).toDF()), s"batch $i")
    }
    val closed = key(GraphQuery.loadGraph(spark, cl).df)
    assert(closed.contains(ancFact("e1", "e4")))
    assert(closed.contains(Seq("http://ex.org/e1", Anc, null, "top", null, "en")))
  }

  test("compactRoot: accumulated batch partitions rewrite side-by-side; every artifact set-equal") {
    val root = Files.createTempDirectory("graftcmp").toString
    val dest = Files.createTempDirectory("graftcmp_dst").toString + "/root"
    import graft.spark.{IncrementalGraph => IG}
    val keys = Seq(Contact)
    // three folds → three batch_id partitions, link state, closure
    IG.foldBatch(ExtractPipeline.extract(turns(batch1.take(1): _*)).as[Triple],
      root, predBuckets = 4, linkKeys = keys, entail = true)
    IG.foldBatch(ExtractPipeline.extract(turns(batch1.drop(1): _*)).as[Triple],
      root, predBuckets = 4, linkKeys = keys, entail = true)
    IG.foldBatch(ExtractPipeline.extract(turns(batch2: _*)).as[Triple],
      root, predBuckets = 4, linkKeys = keys, entail = true)
    val src = IG.readGraph(spark, root).df
    assert(src.select("batch_id").distinct().count() == 3)

    val (g, c, l) = IG.compactRoot(spark, root, dest)
    assert(g > 0 && c > 0 && l > 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("subj", "pred", "obj_iri", "obj_lexical", "obj_datatype", "obj_lang")
      .collect().map(_.toSeq).toSet
    val out = IG.readGraph(spark, dest)
    assert(GraphQuery.loadGraph(spark, s"$dest/graph").predBuckets == 4) // layout carried
    assert(key(out.df) == key(src) && g == out.df.count())
    assert(out.df.select("batch_id").distinct().count() == 1)
    // closure and CANONICAL VIEW answer identically from the compacted root
    assert(key(IG.readClosure(spark, dest).df) == key(IG.readClosure(spark, root).df))
    assert(key(IG.readCanonical(spark, dest).toDF()) == key(IG.readCanonical(spark, root).toDF()))
    // source untouched (side-by-side contract)
    assert(IG.readGraph(spark, root).df.select("batch_id").distinct().count() == 3)
  }

  test("LinkStateStore.fold replay (same version) is idempotent") {
    val state = Files.createTempDirectory("graftlss2").toString
    val t = ExtractPipeline.extract(turns(batch1: _*)).localCheckpoint()
    def m() = LinkStateStore.loadMapping(spark, state).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    LinkStateStore.fold(t, state, 0L, Seq(Contact))
    val first = m()
    // the committed version's FILES must survive a replay untouched — an
    // in-place rewrite (delete-then-write) would yank live files from
    // under a concurrent reader that just resolved the pointer
    def files() = new java.io.File(s"$state/v${"%016d".format(0L)}")
      .listFiles().map(_.getName).toSet
    val committed = files()
    LinkStateStore.fold(t, state, 0L, Seq(Contact)) // at-least-once replay
    assert(m() == first)
    assert(files() == committed)
    assert(LinkStateStore.latestVersion(spark, state).contains(f"v${0L}%016d"))
  }

  test("LinkStateStore.save: a non-monotone version never bricks the pointer") {
    // operator error: a stream restarts against a standing stateDir with a
    // FRESH checkpoint, so foreachBatch versions reset to 0 — the commit
    // sorts below the standing names, and lexicographic retention must not
    // drop the very table the pointer now references
    val state = Files.createTempDirectory("graftlss4").toString
    val t = ExtractPipeline.extract(turns(batch1: _*)).localCheckpoint()
    LinkStateStore.fold(t, state, 56L, Seq(Contact))
    LinkStateStore.fold(t, state, 57L, Seq(Contact))
    LinkStateStore.fold(t, state, 0L, Seq(Contact))
    assert(LinkStateStore.latestVersion(spark, state).contains(f"v${0L}%016d"))
    assert(LinkStateStore.loadMapping(spark, state).get.count() > 0)
  }

  private def jobsOf[A](body: => A): (A, JobFence.Jobs) = JobFence.jobsBySite(spark)(body)

  private def foldAll(root: String, delta: Dataset[Triple]): IncrementalGraph.CrawlSummary =
    IncrementalGraph.foldBatch(delta, root, predBuckets = 4, linkKeys = Seq(Contact), entail = true)

  private def labels(state: DataFrame) =
    state.select("node", "component").collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** A root after `n` folds: batch1 and batch2 (the contact ⊑ ex:key edge
    * included), then `n - 1` [[sameShaped]] deltas.
    */
  private def rootAfter(n: Int): String = {
    val root = Files.createTempDirectory("graftjobs").toString
    foldAll(root, ExtractPipeline.extract(turns(batch1 ++ batch2: _*)))
    (1 until n).foreach(i => foldAll(root, sameShaped(i)))
    root
  }

  /** Two mentions on fresh keys: every such delta is novel, links and
    * entails, with the same shape.
    */
  private def sameShaped(i: Int): Dataset[Triple] =
    ExtractPipeline.extract(turns(mentionTurn(s"j$i", 0, s"q$i", s"r$i"),
      mentionTurn(s"j$i", 1, s"r$i", s"s$i"))).localCheckpoint()

  /** Spark jobs of one full fold (raw graph, link state, closure) of a
    * same-shaped delta, measured on this suite's session.
    */
  private val FoldJobs = 34

  /** Spark jobs of a first fold (an empty root) of batch1 and batch2, at
    * most: the first batch folds through the same path as a later one.
    */
  private val FirstFoldJobs = 23

  test("an empty first delta commits batch 0 with no rows; the next folds as batch 1, equal to scratch") {
    val root = Files.createTempDirectory("graftempty").toString
    val s0 = foldAll(root, spark.emptyDataset[Triple])
    assert(s0 == IncrementalGraph.CrawlSummary(0L, 0L, 0L, 0L))
    // every artifact is committed, and holds no rows
    Seq("graph", "closure").foreach(a => assert(GraphLayout.exists(spark, s"$root/$a"), a))
    assert(IncrementalGraph.readGraph(spark, root).df.count() == 0)
    assert(LinkStateStore.load(spark, s"$root/link_state").get.count() == 0)

    val all = ExtractPipeline.extract(turns(batch1 ++ batch2: _*)).localCheckpoint()
    val s1 = foldAll(root, all)
    assert(s1.batchId == 1 && s1.newTriples == all.dropDuplicates(Triple.identityCols).count())
    assert(key(IncrementalGraph.readGraph(spark, root).df) == key(all.toDF()))
    assert(key(IncrementalGraph.readClosure(spark, root).df) == key(Entailment.owlEntail(all).toDF()))
    assert(labels(LinkStateStore.load(spark, s"$root/link_state").get) ==
      labels(EntityLink.mentionLinkState(all, Seq(Contact))))
  }

  test("a fold that crashed before its crawl mark: the rerun's batch id comes from the data") {
    // fold A, then fold B; dropping B's mark leaves B's rows and link-state
    // version committed with no mark — a crash between the two commits
    val root = Files.createTempDirectory("graftnomark").toString
    val a = ExtractPipeline.extract(turns(batch1: _*)).localCheckpoint()
    val b = ExtractPipeline.extract(turns(batch2: _*)).localCheckpoint()
    val c = ExtractPipeline.extract(turns(mentionTurn("c6", 0, "k3", "k9"))).localCheckpoint()
    assert(foldAll(root, a).batchId == 0 && foldAll(root, b).batchId == 1)
    val mark = new java.io.File(s"$root/graph/_graft_crawl/batch-1")
    assert(mark.delete(), s"no crawl mark at $mark")

    // C's rows share B's predicates: reusing id 1 would overwrite B's
    // partitions, and skip C's link-state commit as a replay of v1
    val s = foldAll(root, c)
    assert(s.batchId == 2 && s.newTriples > 0)
    val all = a.union(b).union(c)
    assert(key(IncrementalGraph.readGraph(spark, root).df) == key(all.toDF()))
    assert(key(IncrementalGraph.readClosure(spark, root).df) == key(Entailment.owlEntail(all).toDF()))
    assert(LinkStateStore.latestVersion(spark, s"$root/link_state").contains(f"v${2L}%016d"))
    assert(labels(LinkStateStore.load(spark, s"$root/link_state").get) ==
      labels(EntityLink.mentionLinkState(all, Seq(Contact))))
  }

  test("readCanonical refuses a root with no standing graph") {
    val missing = Files.createTempDirectory("graftnoroot").toString + "/nope"
    val e = intercept[IllegalArgumentException](IncrementalGraph.readCanonical(spark, missing))
    assert(e.getMessage.contains(s"no crawl root graph under $missing"))
  }

  test("a fold of a same-shaped delta runs a pinned number of Spark jobs") {
    val root = rootAfter(1)
    val delta = sameShaped(100)
    val (s, jobs) = jobsOf(foldAll(root, delta))
    assert(s.newTriples > 0 && s.newClosureTriples > s.newTriples && s.linkStateNodes > 0)
    assert(jobs.total == FoldJobs, jobs)
  }

  test("a first fold into an empty root runs at most a pinned number of Spark jobs") {
    val root = Files.createTempDirectory("graftfirst").toString
    val delta = ExtractPipeline.extract(turns(batch1 ++ batch2: _*)).localCheckpoint()
    val (s, jobs) = jobsOf(foldAll(root, delta))
    assert(s.batchId == 0 && s.newClosureTriples > s.newTriples && s.linkStateNodes > 0)
    assert(jobs.total <= FirstFoldJobs, jobs)
  }

  test("jobs per fold do not grow with the folds already made (after 1 and after 3)") {
    val (early, late) = (rootAfter(1), rootAfter(3))
    val (a, jobsEarly) = jobsOf(foldAll(early, sameShaped(100)))
    val (b, jobsLate) = jobsOf(foldAll(late, sameShaped(100)))
    assert(a.batchId == 1 && b.batchId == 3)
    assert(a.newTriples == b.newTriples && a.newClosureTriples == b.newClosureTriples)
    assert(jobsEarly.total == jobsLate.total, s"after 1 fold: $jobsEarly\nafter 3: $jobsLate")
  }
}
