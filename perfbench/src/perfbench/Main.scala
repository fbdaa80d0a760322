package perfbench

import graft.spark.GraftSession
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The tail percentile reported for operation times. A run holds 20 to
    * 100 operations, so fewer than ten samples lie beyond it; the run
    * reports n beside it.
    */
  val Tail = 0.9
  /** Least-squares slope of a series against its index. */
  def slope(ys: Seq[Double]): Double = {
    if (ys.size < 2) return 0.0
    val xs = ys.indices.map(_.toDouble)
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.map(x => (x - mx) * (x - mx)).sum
  }
}

/** One benchmark run: own a Spark session sized to the machine, generate
  * the workload's inputs from the seed, set up, measure the workload's
  * operation in a closed loop for the given seconds, check the outputs,
  * and (traced) probe each layer. Writes `result.json` (and `spans.json`
  * when traced) into the run directory.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR
  */
object Main {
  val SetupPasses = 3
  val MinOps = 3

  /** Per-layer metric names a traced run reports, on every workload. One
    * that no probe recorded is printed as missing and fails the run.
    */
  val CounterSpans = Seq("op", "sources.scan", "ExtractPipeline.extract", "ExtractPipeline.canonicalize",
    "Resume.write", "Entailment", "Entailment.incremental", "GraphQuery.pathPlus", "IncrementalGraph.fold", "LinkStateStore.fold")
  val CounterNames = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s",
    "cpu_share", "task_skew")
  val QueryKinds = Seq("bgp_star", "bgp_lookup", "path", "describe", "optional", "minus", "ask")
  val LayerMetrics: Seq[String] = Seq(
    "GraftSession.session_start_s", "jvm.warmup_s", "jvm.gc_s",
    "sources.scan_s", "sources.input_partitions",
    "ExtractPipeline.filter_pass_ratio", "ExtractPipeline.filter_useful_ratio",
    "MicroDoc.parse_us_per_doc",
    "Extractor.walk_us_per_doc", "Extractor.triples_per_doc", "Extractor.soft_errors",
    "ExtractPipeline.extract_s", "ExtractPipeline.core_share",
    "ExtractPipeline.canonicalize_s", "ExtractPipeline.dedup_ratio", "ExtractPipeline.ntriples_s",
    "Resume.write_s", "Resume.sink_share", "Resume.resume_noop_s",
    "TableIO.files_written", "TableIO.bytes_per_file",
    "Entailment.closure_s", "Entailment.derived_ratio", "Entailment.incremental_s",
    "GraphQuery.pathPlus_s",
    "IncrementalGraph.fold_s", "IncrementalGraph.novel_ratio", "IncrementalGraph.fold_growth_s_per_batch",
    "IncrementalGraph.standing_files", "IncrementalGraph.compactRoot_s",
    "LinkStateStore.fold_s", "LinkStateStore.nodes", "ConnectedComponents.jobs",
    "GraphQuery.loadGraph_ms", "GraphQuery.rows_read_per_result", "GraphQuery.scan_bytes_ratio") ++
    QueryKinds.map(k => s"GraphQuery.${k}_ms") ++
    Seq("trace.overhead.statements_per_s", "trace.overhead.op_p50_ms", "trace.overhead.op_tail_ms") ++
    CounterSpans.flatMap(s => CounterNames.map(c => s"$s.$c"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work"))
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, s"$workload-$seed-${if (trace) 1 else 0}", trace)
    val ctx = new Ctx(spark, work, tracer, cores, seed)
    val wl = Workloads(workload, ctx)
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val checks = mutable.ArrayBuffer.empty[Check]
    def record(cs: Seq[Check]): Unit = cs.foreach { c =>
      attempted += 1
      checks += c
      if (!c.ok) { failed += 1; failures += s"${c.name}: ${c.detail}" }
    }
    def guarded(name: String)(body: => Seq[Check]): Seq[Check] =
      try body
      catch { case e: Exception => Seq(Check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")) }

    // inputs are the benchmark's own: generated before any timing
    wl.prepare()
    val passes = (0 until SetupPasses).map(rep => tracer.span("setup")(wl.setupPass(rep))._2)
    val setupS = sessionStart + Stats.median(passes)

    val ops = measure(wl, seconds, MinOps, trace)
    ops.foreach { o =>
      attempted += 1
      if (!o.ok) { failed += 1; failures += o.error }
    }

    record(guarded("checks")(wl.checks()))
    val bytesPerStatement = scala.util.Try(wl.bytesPerStatement()).getOrElse(Double.NaN)

    // throughput per whole round of the mix, median over rounds
    def endToEnd(rs: Seq[OpRecord]): Map[String, Double] = {
      val ok = rs.filter(_.ok)
      val rounds = ok.groupBy(_.i / wl.cycle).values.filter(_.size == wl.cycle).toSeq
      if (ok.isEmpty || rounds.isEmpty) return Map.empty
      val secs = ok.map(_.seconds)
      Map(
        "statements_per_s" -> Stats.median(rounds.map(r => r.map(_.statements).sum / r.map(_.seconds).sum)),
        "op_p50_ms" -> Stats.median(secs) * 1e3,
        "op_tail_ms" -> Stats.quantile(secs, Stats.Tail) * 1e3)
    }
    val untraced = ops.filterNot(_.traced)
    val e2e = endToEnd(untraced) ++ Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "bytes_per_statement" -> bytesPerStatement)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      layers("GraftSession.session_start_s") = sessionStart
      layers("jvm.warmup_s") = passes.head
      record(guarded("probes")(wl.probes(layers, ops)))
      val tracedE2e = endToEnd(ops.filter(_.traced))
      Seq("statements_per_s", "op_p50_ms", "op_tail_ms").foreach { k =>
        for (t <- tracedE2e.get(k); u <- e2e.get(k)) layers(s"trace.overhead.$k") = t / u - 1.0
      }
      CounterSpans.foreach { s =>
        tracer.countersOf(s).toMap.foreach { case (c, v) => layers.getOrElseUpdate(s"$s.$c", v) }
      }
      layers("jvm.gc_s") = gcSeconds()
      Files.write(new File(work, "spans.json").toPath, tracer.json.getBytes(UTF_8))
    }

    val metrics: Seq[(String, Double)] =
      if (trace) LayerMetrics.map(k => k -> layers.getOrElse(k, Double.NaN))
      else Seq("statements_per_s", "op_p50_ms", "op_tail_ms", "setup_s", "peak_rss_mb", "bytes_per_statement")
        .map(k => k -> e2e.getOrElse(k, Double.NaN))
    val okSecs = untraced.filter(_.ok).map(_.seconds)
    val json = new StringBuilder
    json ++= "{\n"
    json ++= s"""  "workload": ${Json.str(workload)}, "seed": $seed, "trace": ${if (trace) 1 else 0},\n"""
    json ++= s"""  "java_version": ${Json.str(System.getProperty("java.version"))}, "spark_version": ${Json.str(spark.version)},\n"""
    json ++= s"""  "attempted": $attempted, "failed": $failed, "ops": ${ops.size}, "measured_ops": ${okSecs.size},\n"""
    json ++= s"""  "op_seconds": [${untraced.map(o => Json.num(o.seconds)).mkString(", ")}],\n"""
    json ++= s"""  "tail_level": ${Json.num(Stats.Tail)}, "setup_passes_s": [${passes.map(Json.num).mkString(", ")}],\n"""
    json ++= s"""  "op_kinds": {${untraced.filter(_.ok).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      s"${Json.str(k)}: {\"n\": ${rs.size}, \"p50_ms\": ${Json.num(Stats.median(rs.map(_.seconds)) * 1e3)}}" }.mkString(", ")}},\n"""
    json ++= s"""  "checks": [${checks.map(c => s"{\"name\": ${Json.str(c.name)}, \"ok\": ${c.ok}, \"detail\": ${Json.str(c.detail)}}").mkString(", ")}],\n"""
    json ++= s"""  "failures": [${failures.map(Json.str).mkString(", ")}],\n"""
    json ++= s"""  "metrics": {${metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")}}\n"""
    json ++= "}\n"
    Files.write(new File(work, "result.json").toPath, json.toString.getBytes(UTF_8))
    spark.stop()
  }

  /** Closed loop, one client: op after op until `seconds` have passed and
    * at least `minOps` ran. A traced loop alternates untraced and traced
    * rounds of the workload's mix, a traced op running inside a span named
    * `spanName`. Each op's output is verified after its time is taken.
    */
  def measure(wl: Workload, seconds: Double, minOps: Int, trace: Boolean,
              spanName: String = "op"): Seq[OpRecord] = {
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < minOps) {
      val traced = trace && (i / wl.cycle) % 2 == 1
      val start = System.nanoTime()
      var n = 0L
      var secs = Double.NaN
      val error =
        try {
          n = if (traced) wl.ctx.tracer.span(spanName)(wl.op(i))._1 else wl.op(i)
          secs = (System.nanoTime() - start) / 1e9
          wl.verify(i, n)
          null
        } catch {
          case e: Exception =>
            if (secs.isNaN) secs = (System.nanoTime() - start) / 1e9
            s"op $i: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      ops += OpRecord(i, wl.kind(i), secs, n, traced, error)
      wl.afterOp(i)
      i += 1
    }
    ops.toSeq
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
