package perfbench

import graft.spark.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.File

/** The benchmark's own tests: the generator is deterministic per seed and
  * matches its stated mix, and every checker passes the program's real
  * output but rejects a corrupted copy (a dropped row, a flipped literal).
  *
  *   perfbench.SelfTest --cores C --work DIR      (exit code 0 = all pass)
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s" — $detail"}")
    if (!ok) failures += 1
  }

  private def near(x: Double, target: Double, tol: Double) = math.abs(x - target) <= tol

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val cores = a("cores").toInt
    val work = new File(a("work"))
    work.mkdirs()

    generator()

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, new Tracer(spark.sparkContext, "selftest", false), cores, 7L)
    try {
      bulkChecker(ctx)
      foldChecker(ctx)
      queryChecker(ctx)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def generator(): Unit = {
    val mix = Gen.BulkMix(turns = 20000, markupShare = 0.12, decoyShare = 0.03, softErrorShare = 0.02,
      hotConvShare = 0.01, hotTurnShare = 0.1, files = 4)
    val b1 = Gen.bulk(5L, mix)
    expect("bulk generator is deterministic per seed", b1 == Gen.bulk(5L, mix))
    expect("bulk generator differs across seeds", b1.docs != Gen.bulk(6L, mix).docs)
    val markup = b1.docs.count(_.raw > 0).toDouble / b1.docs.size
    expect("bulk markup share matches the mix", near(markup, mix.markupShare, 0.01), s"$markup")
    val decoys = b1.docs.count(d => d.raw == 0 && d.text.contains("item")).toDouble / b1.docs.size
    expect("bulk decoy share matches the mix", near(decoys, mix.decoyShare, 0.006), s"$decoys")
    val errDocs = b1.docs.count(_.errors > 0).toDouble / b1.docs.count(_.raw > 0)
    expect("bulk soft-error share matches the mix", near(errDocs, mix.softErrorShare, 0.006), s"$errDocs")
    val bad = graft.core.Extractor.extract(Gen.badOffer(1).html, "x#0", null, graft.spark.ExtractPipeline.defaultRegistry)
    expect("soft-error template yields its stated triples and one error",
      bad.triples.size == Gen.badOffer(1).raw && bad.errors.size == 1, s"${bad.triples.size} / ${bad.errors}")
    val perConv = b1.docs.groupBy(_.conv).values.map(_.size).toSeq.sortBy(-_)
    val nHot = math.max(1, (perConv.size * mix.hotConvShare).round.toInt)
    val hotShare = perConv.take(nHot).sum.toDouble / b1.docs.size
    expect("bulk hot conversations hold their share of turns", near(hotShare, mix.hotTurnShare, 0.02), s"$hotShare")
    expect("bulk (conv_id, turn_idx) is unique",
      b1.docs.map(d => (d.conv, d.turn)).distinct.size == b1.docs.size)

    val fold = Gen.fold(5L, FoldProbe.mix)
    expect("fold generator is deterministic per seed", fold == Gen.fold(5L, FoldProbe.mix))
    val seen = collection.mutable.Set.empty[(String, Int)] ++= fold.base.map(d => (d.conv, d.turn))
    val (fresh, recrawled) = fold.batches.foldLeft((0, 0)) { case ((f, r), b) =>
      val (old, nu) = b.partition(d => seen((d.conv, d.turn)))
      seen ++= nu.map(d => (d.conv, d.turn))
      (f + nu.size, r + old.size)
    }
    expect("fold duplicate (re-crawl) share matches the mix",
      near(recrawled.toDouble / fresh, FoldProbe.mix.recrawlShare, 0.03), s"${recrawled.toDouble / fresh}")
    expect("fold re-crawls repeat earlier turns verbatim",
      (fold.base ++ fold.batches.flatten).groupBy(d => (d.conv, d.turn)).values.forall(_.distinct.size == 1))

    val q = Gen.query(5L, Gen.QueryMix(persons = 300, orgs = 10, employees = 200, offers = 50,
      shareds = 25, chatTurns = 50, queries = 70))
    val q2 = Gen.query(5L, q.mix)
    expect("query generator is deterministic per seed", q.docs == q2.docs && q.queries == q2.queries)
    expect("query mix covers every kind", q.queries.map(_.kind).toSet == Main.QueryKinds.toSet)
  }

  /** Two corrupted copies of `df`: one missing a literal row picked among
    * `where`, one with that row's literal flipped.
    */
  private def corrupt(df: DataFrame, where: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val victim = df.filter(where && col("obj_lexical").isNotNull).limit(1).collect().head
    val key = Seq("subj", "pred", "obj_lexical").map(c => col(c) === victim.getAs[String](c)).reduce(_ && _)
    val flipped = df.withColumn("obj_lexical", when(key, concat(col("obj_lexical"), lit("x")))
      .otherwise(col("obj_lexical")))
    (df.filter(!key), flipped)
  }

  private def bulkChecker(ctx: Ctx): Unit = {
    val mix = Gen.BulkMix(turns = 3000, markupShare = 0.12, decoyShare = 0.03, softErrorShare = 0.02,
      hotConvShare = 0.01, hotTurnShare = 0.1, files = 4)
    val corpus = Gen.bulk(11L, mix)
    Workloads.writeInput(ctx.spark, corpus.docs, ctx.path("bulk_in"), 4)
    val input = ctx.spark.read.parquet(ctx.path("bulk_in"))
    val decoys = corpus.docs.filter(d => d.raw == 0 && d.text.contains("item"))
    val decoysPassing = input.filter(graft.spark.ExtractPipeline.markupFilter)
      .filter(col("text").isin(decoys.map(_.text).distinct: _*)).count()
    val stated = decoys.size * Gen.DecoysPassingFilter / 3.0
    expect("decoys pass the markup filter in their stated share",
      math.abs(decoysPassing - stated) <= 0.15 * stated, s"$decoysPassing of ${decoys.size}, stated $stated")
    Workloads.extractMain("--input", ctx.path("bulk_in"), "--output", ctx.path("bulk_out"), "--buckets", "8")
    val out = ctx.spark.read.parquet(ctx.path("bulk_out")).cache()
    expect("bulk checker passes the real output", Checks.bulk(ctx.spark, out, corpus).forall(_.ok))
    val sampled = Checks.bulkSample(corpus).head
    val (dropped, flipped) = corrupt(out, col("conv_id") === sampled.conv && col("turn_idx") === sampled.turn)
    expect("bulk checker rejects a dropped row", !Checks.bulk(ctx.spark, dropped, corpus).forall(_.ok))
    expect("bulk checker rejects a flipped literal", !Checks.bulk(ctx.spark, flipped, corpus).forall(_.ok))
  }

  private def foldChecker(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val mix = FoldProbe.mix.copy(basePersons = 200, baseEmployees = 100, chains = 20, baseSolos = 20,
      baseChat = 100, batches = 2)
    val corpus = Gen.fold(13L, mix)
    Workloads.writeInput(spark, corpus.base, ctx.path("fold_base"), 2)
    corpus.batches.zipWithIndex.foreach { case (b, i) => Workloads.writeInput(spark, b, ctx.path(s"fold_b$i"), 1) }
    def fold(root: String, input: String*) = {
      val dir = ctx.path("fold_in_" + new File(root).getName + input.size)
      spark.read.parquet(input: _*).write.mode("overwrite").parquet(dir)
      graft.IncrementalMain.run(Map("root" -> root, "input" -> dir,
        "link-keys" -> Gen.Contact, "entail" -> "true"), spark)
    }
    val (root, scratch) = (ctx.path("fold_root"), ctx.path("fold_scratch"))
    fold(root, ctx.path("fold_base"))
    fold(root, ctx.path("fold_b0"))
    fold(root, ctx.path("fold_b1"))
    fold(scratch, ctx.path("fold_base"), ctx.path("fold_b0"), ctx.path("fold_b1"))
    val g = spark.read.parquet(s"$root/graph").cache()
    def check(graph: DataFrame) = Checks.fold(graph, spark.read.parquet(s"$scratch/graph"),
      spark.read.parquet(s"$root/closure"), spark.read.parquet(s"$scratch/closure"),
      graft.spark.LinkStateStore.load(spark, s"$root/link_state").get, corpus, 2)
    expect("fold checker passes the real standing graph", check(g).forall(_.ok))
    val (dropped, flipped) = corrupt(g, lit(true))
    expect("fold checker rejects a dropped row", !check(dropped).forall(_.ok))
    expect("fold checker rejects a flipped literal", !check(flipped).forall(_.ok))
  }

  private def queryChecker(ctx: Ctx): Unit = {
    val mix = Gen.QueryMix(persons = 300, orgs = 10, employees = 200, offers = 50,
      shareds = 25, chatTurns = 50, queries = 70)
    val qctx = ctx.sub("query")
    val wl = new GraphQueryMix(qctx, mix, "selftest_by_subj")
    wl.prepare()
    // a setup pass runs and verifies one query of each kind
    val passed = scala.util.Try(wl.setupPass(0))
    expect("query checker passes the real answer of every kind", passed.isSuccess, s"$passed")
    def answer(i: Int): DataFrame = {
      wl.op(i)
      ctx.spark.read.parquet(qctx.path("bindings")).localCheckpoint()
    }
    val star = wl.corpus.queries.indexWhere(_.kind == "bgp_star")
    val real = answer(star)
    val q = wl.corpus.queries(star)
    expect("query checker passes a real bgp_star answer", Checks.query(q, real).ok)
    val victim = real.limit(1).collect().head.getAs[String]("p")
    expect("query checker rejects a dropped row", !Checks.query(q, real.filter(col("p") =!= victim)).ok)
    val flipped = real.withColumn("n", when(col("p") === victim, concat(col("n"), lit("x"))).otherwise(col("n")))
    expect("query checker rejects a flipped literal", !Checks.query(q, flipped).ok)
    val describe = wl.corpus.queries.indexWhere(_.kind == "describe")
    val (dDropped, dFlipped) = corrupt(answer(describe), lit(true))
    expect("query checker rejects a dropped DESCRIBE row", !Checks.query(wl.corpus.queries(describe), dDropped).ok)
    expect("query checker rejects a flipped DESCRIBE literal", !Checks.query(wl.corpus.queries(describe), dFlipped).ok)
    val ask = wl.corpus.queries.find(_.kind == "ask").get
    expect("query checker rejects a wrong ASK answer", !Checks.ask(ask, ask.expected != 1L).ok)
  }
}
