package perfbench

import graft.model.Triple
import graft.spark.{Entailment, ExtractPipeline, GraphQuery, IncrementalGraph, LinkStateStore, Resume}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File

/** What one run shares: the benchmark-owned session, the run's scratch
  * directory inside the checkout, the tracer, and the machine's cores.
  */
final class Ctx(val spark: SparkSession, val work: File, val tracer: Tracer,
                val cores: Int, val seed: Long) {
  def path(name: String): String = new File(work, name).getAbsolutePath
  /** The same run with its scratch files in the subdirectory `name`. */
  def sub(name: String): Ctx = {
    val dir = new File(work, name)
    dir.mkdirs()
    new Ctx(spark, dir, tracer, cores, seed)
  }
}

/** A named output check; a failed one counts against `error_rate`. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One measured operation: its index and kind, wall seconds, statements
  * (or rows) written, whether it ran traced, and why it failed (null when
  * it succeeded).
  */
final case class OpRecord(i: Int, kind: String, seconds: Double, statements: Long,
                          traced: Boolean, error: String) {
  def ok: Boolean = error == null
}

/** One benchmark workload, driven only through the program's public entry
  * points. `op` is the measured operation; it returns the statements (or
  * result rows) it wrote. `verify`, untimed, throws when that output is
  * wrong.
  */
abstract class Workload(val ctx: Ctx) {
  def prepare(): Unit
  /** One setup pass: warm-up on a small input plus any standing state. */
  def setupPass(rep: Int): Unit
  def op(i: Int): Long
  def verify(i: Int, n: Long): Unit
  /** Untimed clean-up after op `i` (e.g. removing the previous output). */
  def afterOp(i: Int): Unit = ()
  def bytesPerStatement(): Double
  def checks(): Seq[Check]
  /** Traced run only: every per-layer metric, from calls into each layer,
    * and the checks of anything the probes build. Layers off the
    * workload's own path are called on its input or on a side corpus.
    */
  def probes(m: collection.mutable.Map[String, Double], ops: Seq[OpRecord]): Seq[Check]
  /** Operation kind of op `i`, for per-kind medians. */
  def kind(i: Int): String = "op"
  /** Ops per round of the mix; traced runs alternate whole rounds. */
  def cycle: Int = 1

  protected def spark: SparkSession = ctx.spark
  protected def span[T](name: String)(body: => T): (T, Double) = ctx.tracer.span(name)(body)
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "bulk_build" => new BulkBuild(ctx)
    case "graph_query" => new GraphQueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Statement count from the CLI's own self-report line. */
  private val Parsed = "Parsed (\\d+) statements".r

  /** Run `ExtractMain.main` and return the statements it reports writing. */
  def extractMain(args: String*): Long = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.ExtractMain.main(args.toArray)
    }
    Parsed.findFirstMatchIn(buf.toString("UTF-8")).map(_.group(1).toLong)
      .getOrElse(sys.error("ExtractMain printed no statement count"))
  }

  def writeInput(spark: SparkSession, docs: Seq[Gen.Doc], dir: String, files: Int): Unit = {
    import spark.implicits._
    Gen.toTurns(docs).toDS().repartition(files).write.mode("overwrite").parquet(dir)
  }

  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  private def dataFiles(path: String): Seq[File] = {
    def go(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(go)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    go(new File(path))
  }
  def dirBytes(path: String): Long = dataFiles(path).map(_.length).sum
  def fileCount(path: String): Long = dataFiles(path).size.toLong

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Single-threaded core split on a doc sample: (parse µs/doc,
    * parse+walk µs/doc, triples/doc). Repeats the sample until
    * each timing covers at least half a second.
    */
  def coreSplit(texts: Seq[String]): (Double, Double, Double) = {
    val reg = ExtractPipeline.defaultRegistry
    def timeLoop(f: (String, Int) => Unit): Double = {
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 500000000L || reps < 2) {
        texts.zipWithIndex.foreach { case (t, i) => f(t, i) }
        reps += 1
      }
      (System.nanoTime() - t0) / 1e3 / (reps.toLong * texts.size)
    }
    texts.zipWithIndex.foreach { case (t, i) => graft.core.Extractor.extract(t, s"w#$i", null, reg) }
    val parse = timeLoop((t, _) => graft.html.MicroDoc.parse(t))
    val full = timeLoop((t, i) => graft.core.Extractor.extract(t, s"s#$i", null, reg))
    val res = texts.zipWithIndex.map { case (t, i) => graft.core.Extractor.extract(t, s"s#$i", null, reg) }
    (parse, full, res.map(_.triples.size).sum.toDouble / texts.size)
  }
}

import Workloads._

/** Probes of the extraction and closure layers, called on the workload's
  * own input (`in` under the run directory).
  */
object Probes {
  // resume buckets, as the workloads' ExtractMain calls use them
  val Buckets = 8

  /** Scan, markup filter, core split, row-local extraction and the resume
    * write, each timed around its own call. `docs` is the generator's view
    * of the input: the statement and soft-error counts to check against.
    */
  def extraction(ctx: Ctx, docs: Seq[Gen.Doc], m: collection.mutable.Map[String, Double]): Seq[Check] = {
    val spark = ctx.spark
    val statements = docs.map(_.raw.toLong).sum
    val softErrors = docs.map(_.errors.toLong).sum
    val df = spark.read.parquet(ctx.path("in"))
    m("sources.input_partitions") = df.rdd.getNumPartitions.toDouble
    m("sources.scan_s") = ctx.tracer.span("sources.scan")(noop(df))._2
    val total = df.count().toDouble
    val passed = df.filter(ExtractPipeline.markupFilter)
    val nPassed = passed.count().toDouble
    m("ExtractPipeline.filter_pass_ratio") = nPassed / total
    val errors = spark.sparkContext.longAccumulator("probe_errors")
    val triples = ExtractPipeline.extract(df, errorCounter = errors)
    m("ExtractPipeline.extract_s") = ctx.tracer.span("ExtractPipeline.extract")(noop(triples.toDF()))._2
    // read before any other action on `triples` re-runs the extraction
    val errorsSeen = errors.value
    m("Extractor.soft_errors") = errorsSeen.toDouble
    val useful = triples.select(col("conv_id"), col("turn_idx")).distinct().count().toDouble
    m("ExtractPipeline.filter_useful_ratio") = useful / nPassed
    val sample = passed.select(col("text")).limit(2000).collect().map(_.getString(0)).toSeq
    val (parseUs, fullUs, perDoc) = coreSplit(sample)
    m("MicroDoc.parse_us_per_doc") = parseUs
    m("Extractor.walk_us_per_doc") = fullUs - parseUs
    m("Extractor.triples_per_doc") = perDoc
    m("ExtractPipeline.core_share") = fullUs * nPassed / 1e6 / (m("ExtractPipeline.extract_s") * ctx.cores)

    val out = ctx.path("probe_resume")
    val (s, writeS) = ctx.tracer.span("Resume.write")(Resume.writeWithResume(df, out, Buckets))
    m("Resume.write_s") = writeS
    m("Resume.sink_share") = (writeS - m("ExtractPipeline.extract_s")) / writeS
    m("Resume.resume_noop_s") = ctx.tracer.span("Resume.resume_noop")(Resume.writeWithResume(df, out, Buckets))._2
    val files = fileCount(out)
    m("TableIO.files_written") = files.toDouble
    m("TableIO.bytes_per_file") = dirBytes(out).toDouble / math.max(files, 1L)
    rm(out)
    Seq(
      Check("probe.soft_errors", errorsSeen == softErrors,
        s"extraction counted $errorsSeen soft errors, generator expects $softErrors"),
      Check("probe.resume_count", s.rowsWritten == statements,
        s"Resume.writeWithResume wrote ${s.rowsWritten}, expected $statements"))
  }

  /** The input's graph closed and exported: canonicalization, N-Triples,
    * the transitive entailment closure and the `reportsTo` path closure.
    */
  def closure(ctx: Ctx, statements: Long, m: collection.mutable.Map[String, Double]): Unit = {
    val triples = ExtractPipeline.extract(ctx.spark.read.parquet(ctx.path("in")))
    val (canon, canonS) = ctx.tracer.span("ExtractPipeline.canonicalize") {
      ExtractPipeline.canonicalize(triples).localCheckpoint()
    }
    m("ExtractPipeline.canonicalize_s") = canonS
    val nCanon = canon.count().toDouble
    m("ExtractPipeline.dedup_ratio") = nCanon / statements
    m("ExtractPipeline.ntriples_s") =
      ctx.tracer.span("ExtractPipeline.ntriples")(noop(ExtractPipeline.toNTriples(canon)))._2
    val (closed, closureS) = ctx.tracer.span("Entailment")(Entailment.owlEntailWithTransitive(canon).count())
    m("Entailment.closure_s") = closureS
    m("Entailment.derived_ratio") = (closed - nCanon) / nCanon
    m("GraphQuery.pathPlus_s") = ctx.tracer.span("GraphQuery.pathPlus") {
      GraphQuery.pathPlus(GraphQuery.PersistedGraph(canon.toDF(), 0, Map.empty), Gen.ReportsTo).count()
    }._2
  }
}

/** Production job: ExtractMain's default bucketed-resume path over a large,
  * chat-heavy transcript table spread over many files.
  */
final class BulkBuild(ctx: Ctx) extends Workload(ctx) {
  val mix = Gen.BulkMix(turns = 40000, markupShare = 0.12, decoyShare = 0.03, softErrorShare = 0.02,
    hotConvShare = 0.01, hotTurnShare = 0.1, files = 32)
  lazy val corpus: Gen.Bulk = Gen.bulk(ctx.seed, mix)
  private val inputDir = ctx.path("in")
  private var lastOut: String = _
  // resume buckets: with the CLI default of 256 a run writes some 1,300
  // tiny files and its time is mostly filesystem noise
  private val Buckets = Probes.Buckets.toString

  def prepare(): Unit = writeInput(spark, corpus.docs, inputDir, mix.files)

  /** Warm-up: the measured operation, four times, into throwaway outputs
    * (op times settle after a dozen calls).
    */
  def setupPass(rep: Int): Unit = (0 until 4).foreach { k =>
    val out = ctx.path(s"warm_out$rep-$k")
    extractMain("--input", inputDir, "--output", out, "--buckets", Buckets)
    rm(out)
  }

  def op(i: Int): Long = {
    val out = ctx.path(s"out$i")
    lastOut = out
    extractMain("--input", inputDir, "--output", out, "--buckets", Buckets)
  }

  def verify(i: Int, n: Long): Unit =
    require(n == corpus.statements, s"wrote $n statements, expected ${corpus.statements}")

  override def afterOp(i: Int): Unit =
    if (i > 0) rm(ctx.path(s"out${i - 1}"))

  def bytesPerStatement(): Double = dirBytes(lastOut).toDouble / corpus.statements

  def checks(): Seq[Check] = Checks.bulk(spark, spark.read.parquet(lastOut), corpus) :+ {
    val again = extractMain("--input", inputDir, "--output", lastOut, "--buckets", Buckets)
    Check("bulk.resume_writes_nothing", again == 0, s"resume re-run wrote $again")
  }

  /** The serving layers do no work on this workload's path; they are
    * measured on a side graph of [[GraphQueryMix.ProbeMix]], queried for a
    * few rounds of the mix.
    */
  private def servingProbe(m: collection.mutable.Map[String, Double]): Seq[Check] = {
    val qp = new GraphQueryMix(ctx.sub("serving_probe"), GraphQueryMix.ProbeMix, "probe_by_subj")
    qp.prepare()
    qp.setupPass(0)
    val ops = Main.measure(qp, 0, 5 * qp.cycle, trace = true, spanName = "serving_probe.op")
    qp.serving(m, ops, "serving_probe.op")
    val bad = ops.filterNot(_.ok)
    Check("serving_probe.answers", bad.isEmpty,
      s"${bad.size} of ${ops.size} queries failed" + bad.headOption.map(o => s" (first: ${o.error})").getOrElse("")) +:
      qp.checks()
  }

  def probes(m: collection.mutable.Map[String, Double], ops: Seq[OpRecord]): Seq[Check] =
    Probes.extraction(ctx, corpus.docs, m) ++ {
      Probes.closure(ctx, corpus.statements, m)
      servingProbe(m) ++ FoldProbe.run(ctx, m)
    }
}

/** The nightly-fold layers, probed in graph_query's traced run on the
  * benchmark's fold corpus: a standing root built from a base corpus, delta
  * batches (new and re-crawled turns, chained contact keys, a growing org
  * tree) folded through IncrementalMain.run with link keys and entailment,
  * then each layer called on the next delta. The folds are checked against
  * a from-scratch build of the same inputs.
  */
object FoldProbe {
  val mix = Gen.FoldMix(basePersons = 1500, baseEmployees = 1000, chains = 150, baseSolos = 300,
    baseChat = 1000, batches = 4, newPersons = 100, newEmployees = 60, chainSteps = 40,
    newSolos = 20, recrawlShare = 0.3, batchChat = 200)
  private val LinkKeys = Gen.Contact

  def run(ctx: Ctx, m: collection.mutable.Map[String, Double]): Seq[Check] = {
    val spark = ctx.spark
    val corpus = Gen.fold(ctx.seed, mix)
    val base = ctx.path("fold_base")
    writeInput(spark, corpus.base, base, 4)
    val batches = corpus.batches.indices.map(i => ctx.path(s"fold_batch$i"))
    corpus.batches.zip(batches).foreach { case (b, dir) => writeInput(spark, b, dir, 2) }
    def fold(rootDir: String, input: String): IncrementalGraph.CrawlSummary =
      graft.IncrementalMain.run(Map("root" -> rootDir, "input" -> input,
        "link-keys" -> LinkKeys, "entail" -> "true"), spark)

    val root = ctx.path("fold_root")
    fold(root, base)
    val folded = batches.size - 1
    val foldSeconds = batches.take(folded).map { b =>
      val t0 = System.nanoTime()
      fold(root, b)
      (System.nanoTime() - t0) / 1e9
    }
    m("IncrementalGraph.fold_growth_s_per_batch") = Stats.slope(foldSeconds)
    m("IncrementalGraph.standing_files") = fileCount(root).toDouble

    val scratch = ctx.path("fold_scratch")
    val allDir = ctx.path("fold_all")
    spark.read.parquet(base +: batches.take(folded): _*).write.mode("overwrite").parquet(allDir)
    fold(scratch, allDir)
    val checks = Checks.fold(spark.read.parquet(s"$root/graph"), spark.read.parquet(s"$scratch/graph"),
      spark.read.parquet(s"$root/closure"), spark.read.parquet(s"$scratch/closure"),
      LinkStateStore.load(spark, s"$root/link_state").get, corpus, folded)

    // the last batch, extracted once so each layer call sees the same delta
    val delta = ExtractPipeline.extract(spark.read.parquet(batches.last))
      .dropDuplicates(Triple.identityCols).localCheckpoint()
    val nDelta = delta.count().toDouble
    val compact = ctx.path("fold_compact")
    m("IncrementalGraph.compactRoot_s") = ctx.tracer.span("IncrementalGraph.compactRoot") {
      IncrementalGraph.compactRoot(spark, root, compact)
    }._2
    val closure = IncrementalGraph.readClosure(spark, compact).df
      .select(Triple.identityCols.map(col) :+ col("conv_id") :+ col("turn_idx"): _*)
      .as[Triple](org.apache.spark.sql.Encoders.product[Triple])
    m("Entailment.incremental_s") = ctx.tracer.span("Entailment.incremental") {
      noop(Entailment.owlEntailIncremental(closure, delta).toDF())
    }._2
    val state = LinkStateStore.load(spark, s"$compact/link_state").get.localCheckpoint()
    ctx.tracer.span("ConnectedComponents") {
      val edges = delta.filter(col("pred") === LinkKeys && col("obj_lexical").isNotNull &&
          col("subj").startsWith(graft.core.Extractor.SkolemPrefix))
        .select(col("subj").as("src"), concat(col("pred"), lit("\u0000"), col("obj_lexical")).as("dst"))
      graft.spark.ConnectedComponents.incremental(state, edges).count()
    }
    m("ConnectedComponents.jobs") = ctx.tracer.countersOf("ConnectedComponents").jobs.toDouble
    val (s, foldS) = ctx.tracer.span("IncrementalGraph.fold") {
      IncrementalGraph.foldBatch(delta, compact, linkKeys = Seq(LinkKeys), entail = true)
    }
    m("IncrementalGraph.fold_s") = foldS
    m("IncrementalGraph.novel_ratio") = s.newTriples / nDelta
    // the same delta into the link state again: the store's own
    // load-fold-save cycle, with no novel nodes left to add
    val (nodes, lsS) = ctx.tracer.span("LinkStateStore.fold") {
      LinkStateStore.fold(delta, s"$compact/link_state", 1L << 40, Seq(LinkKeys)).count()
    }
    m("LinkStateStore.fold_s") = lsS
    m("LinkStateStore.nodes") = nodes.toDouble
    Seq(root, scratch, compact, allDir, base).foreach(rm)
    checks
  }
}

/** Read-only serving: the graph persisted once per setup pass in both
  * layouts, then a fixed-seed query mix through QueryMain.run.
  */
final class GraphQueryMix(ctx: Ctx, val mix: Gen.QueryMix = GraphQueryMix.MainMix,
                          tablePrefix: String = "graph_by_subj") extends Workload(ctx) {
  lazy val corpus: Gen.QueryCorpus = Gen.query(ctx.seed, mix)
  private var graphDir: String = _
  private var tableDir: String = _
  private var table: String = _
  private var statements = 0L

  def prepare(): Unit = writeInput(spark, corpus.docs, ctx.path("in"), 8)

  def setupPass(rep: Int): Unit = {
    Seq(graphDir, tableDir).filter(_ != null).foreach(rm)
    if (table != null) spark.sql(s"DROP TABLE IF EXISTS $table")
    graphDir = ctx.path(s"graph$rep")
    tableDir = ctx.path(s"table$rep")
    table = s"${tablePrefix}_$rep"
    val canon = ExtractPipeline.canonicalize(ExtractPipeline.extract(spark.read.parquet(ctx.path("in"))))
    ExtractPipeline.writeGraph(canon, graphDir)
    statements = extractMain("--input", ctx.path("in"), "--output", tableDir,
      "--subject-table", table, "--buckets", Probes.Buckets.toString)
    // warm-up: one query of each kind on the new graph
    (0 until cycle).foreach(i => verify(i, op(i)))
  }

  private def query(i: Int): Gen.Query = corpus.queries(i % corpus.queries.size)
  override def kind(i: Int): String = query(i).kind
  override def cycle: Int = Main.QueryKinds.size

  def op(i: Int): Long = {
    val q = query(i)
    if (q.ask != null) {
      val (e, m) = q.ask
      val g = GraphQuery.loadGraph(spark, graphDir)
      val asked = GraphQuery.ask(g, Seq(
        (GraphQuery.C(Gen.empIri(e)), GraphQuery.C(Gen.ReportsTo), GraphQuery.V("m")),
        (GraphQuery.V("m"), GraphQuery.C(Gen.S + "name"), GraphQuery.C(s"Employee $m"))))
      if (asked) 1L else 0L
    } else {
      val source = if (q.kind == "bgp_star") Seq("--table", table) else Seq("--graph", graphDir)
      graft.QueryMain.run((q.args ++ source ++ Seq("--output", ctx.path("bindings"))).toArray, spark)
    }
  }

  /** The answer QueryMain wrote (or ASK returned) against the generator's. */
  def verify(i: Int, n: Long): Unit = {
    val q = query(i)
    val c = if (q.ask != null) Checks.ask(q, n == 1L) else Checks.query(q, spark.read.parquet(ctx.path("bindings")))
    require(c.ok && (q.ask != null || n == q.expected), s"${c.detail}; QueryMain reported $n rows")
  }

  def bytesPerStatement(): Double = (dirBytes(graphDir) + dirBytes(tableDir)).toDouble / (2 * statements)

  def checks(): Seq[Check] = {
    val g = spark.read.parquet(graphDir).count()
    val t = spark.table(table).count()
    Seq(Check("query.layouts_agree", g == statements && t == statements,
      s"pred_bucket graph $g, subject table $t, written $statements"))
  }

  /** Serving metrics from measured ops: per-kind medians from the untraced
    * rounds, rows and bytes read from the traced ones (span `spanName`).
    */
  def serving(m: collection.mutable.Map[String, Double], ops: Seq[OpRecord], spanName: String): Unit = {
    val loads = (0 until 5).map(_ => span("GraphQuery.loadGraph")(GraphQuery.loadGraph(spark, graphDir))._2)
    m("GraphQuery.loadGraph_ms") = Stats.median(loads) * 1e3
    val traced = ops.filter(o => o.traced && o.ok)
    val q = ctx.tracer.countersOf(spanName)
    val rows = traced.map(o => query(o.i).expected).sum
    m("GraphQuery.rows_read_per_result") = q.inputRecords.toDouble / math.max(rows, 1L)
    m("GraphQuery.scan_bytes_ratio") = q.inputBytes.toDouble / math.max(traced.size, 1) / dirBytes(graphDir)
    Main.QueryKinds.foreach { k =>
      val s = ops.filter(o => !o.traced && o.ok && o.kind == k).map(_.seconds)
      if (s.nonEmpty) m(s"GraphQuery.${k}_ms") = Stats.median(s) * 1e3
    }
  }

  def probes(m: collection.mutable.Map[String, Double], ops: Seq[OpRecord]): Seq[Check] = {
    serving(m, ops, "op")
    Probes.closure(ctx, corpus.statements, m)
    Probes.extraction(ctx, corpus.docs, m) ++ FoldProbe.run(ctx, m)
  }
}

object GraphQueryMix {
  val MainMix = Gen.QueryMix(persons = 3000, orgs = 60, employees = 2000, offers = 500,
    shareds = 250, chatTurns = 1000, queries = 700)
  /** The side graph bulk_build's traced run serves: same answer sizes per
    * query kind (50 persons an organization), a third of the statements.
    */
  val ProbeMix = Gen.QueryMix(persons = 1000, orgs = 20, employees = 1000, offers = 200,
    shareds = 100, chatTurns = 300, queries = 70)
}
