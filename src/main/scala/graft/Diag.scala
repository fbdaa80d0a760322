package graft

import graft.spark.{AdaptiveStrategy, ConnectedComponents, ExtractPipeline, GraftSession, Transcripts}
import graft.spark.AdaptiveStrategy.Limits
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Diagnostics outside the `Bench`/`Verify` contract, behind one scaffold:
  * the sf directory comes from `SPARK_GRAFT_SF_DIR`, the local core count
  * from `SPARK_GRAFT_CPUS` (else the machine's cores), and unknown query
  * names fail before any session starts.
  *
  *   graft.Diag profile <q1,…> [reps]   noop-sink timing + stage listener
  *   graft.Diag plans [out.md] [q1,…]   explain("formatted") evidence file
  *   graft.Diag cc [edges…]             components strategy parity + timing
  *   graft.Diag scaling <cpus> <turns>  one extraction-throughput JSON line
  *
  * Run with `sbt "runMain graft.Diag …"` or `java -cp <classes:spark jars>`.
  */
object Diag {
  private val Usage =
    "usage: graft.Diag profile <q1,…> [reps] | plans [out.md] [q1,…] | cc [edges…] | scaling <cpus> <turns>"

  def main(args: Array[String]): Unit = args.toList match {
    case "profile" :: qs :: rest if rest.size <= 1 =>
      profile(queryNames(qs), rest.headOption.fold(3)(_.toInt))
    case "plans" :: rest if rest.size <= 2 =>
      plans(rest.headOption.getOrElse("PLANS.md"), rest.lift(1).fold(PlanQueries)(queryNames))
    case "cc" :: sizes =>
      cc(if (sizes.isEmpty) Seq(1000000L, 4000000L, 16000000L) else sizes.map(_.toLong))
    case "scaling" :: cpus :: turns :: Nil => scaling(cpus.toInt, turns.toLong)
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def queryNames(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    names
  }

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name a generated sf directory"))

  /** Per-job wall times and per-stage task metrics since the last `clear`. */
  private final class StageTrace extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[String] // "<wall ms>(<stages>st)"
    val stages = mutable.ArrayBuffer.empty[(Long, String)] // (duration ms, report line)
    private val jobStart = mutable.Map.empty[Int, (Long, Int)]

    def clear(): Unit = synchronized { stages.clear(); jobs.clear(); jobStart.clear() }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (System.nanoTime(), e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, n) =>
        jobs += s"${(System.nanoTime() - t0) / 1000000L}(${n}st)"
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val dur = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
      val scopes = si.rddInfos.sortBy(_.id).map(_.name).distinct.mkString(">").take(110)
      stages += dur -> (f"  stage ${si.stageId}%4d $dur%6d ms run=${m.executorRunTime}%7d " +
        f"gc=${m.jvmGCTime}%5d cpu=${m.executorCpuTime / 1000000L}%7d tasks=${si.numTasks}%3d " +
        f"sw=${m.shuffleWriteMetrics.bytesWritten}%9d sr=${m.shuffleReadMetrics.totalBytesRead}%9d  $scopes")
    }
  }

  /** Time each query `reps` times with `write.format("noop")` — every
    * column of every row is computed and discarded, so no sink cost and no
    * count-style column pruning — and print per rep the wall time with job
    * and stage counts, then the last rep's job walls and top stages, then
    * one JSON line of medians. Measured on sf0.1 (4 cores, 7 alternating
    * pairs): noop and `count()` medians agree within their spread where
    * the query's output columns are cheap (kg_entail, doc_dedup_groups,
    * sim_topk), but noop reads 28–52% higher where `count()` prunes costly
    * output columns (kg_types, kg_path_reachable, doc_jaccard_pairs) —
    * compare these medians with each other, not with Bench's.
    */
  private def profile(names: Seq[String], reps: Int): Unit = {
    val dir = sfDir
    val spark = GraftSession.local(GraftSession.localCpus)
    try SparkEntry.entry(spark).count() // same JIT warmup as Bench
    catch { case e: Throwable => System.err.println(s"[diag] warmup: $e") }
    val trace = new StageTrace
    spark.sparkContext.addSparkListener(trace)
    val medians = names.map { n =>
      val secs = (0 until reps).map { i =>
        trace.clear()
        val s = Bench.timeIt(
          SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())._2
        // listener events arrive asynchronously; let the bus drain
        Thread.sleep(300)
        trace.synchronized {
          println(f"== $n rep $i: $s%.3f s, ${trace.jobs.size} jobs, ${trace.stages.size} stages ==")
        }
        s
      }
      trace.synchronized {
        println("  jobs (ms): " + trace.jobs.mkString(" "))
        trace.stages.sortBy(-_._1).take(18).foreach(s => println(s._2))
      }
      n -> Bench.median(secs)
    }
    spark.stop()
    val qs = medians.map { case (n, s) => "\"" + n + "\":" + f"$s%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"noop_sink","unit":"sec","samples":$reps,"queries":$qs,"sf":"$dir"}""")
  }

  private val PlanQueries = Seq("kg_types", "kg_entail", "kg_link_components",
    "kg_canonical_contacts", "doc_dedup_groups", "sim_near_dup_groups",
    "sim_kmeans_assign", "sim_ivf_kmeans", "mm_feature_dups",
    "q1_pricing", "q3_top_orders", "doc_jaccard_pairs", "sim_cosine_pairs",
    "sim_topk", "sim_lsh_pairs", "sim_ivf_topk", "doc_minhash_pairs",
    "doc_simhash_pairs", "doc_top_quality", "doc_token_stats", "sim_ivf_twolevel",
    "doc_substring_dups", "doc_decontam", "doc_split", "doc_pii_scrub",
    "doc_ngram_top", "doc_sample_strata", "doc_quality_filters", "doc_rarity",
    "kg_bgp_person_nation", "kg_bgp_nation_lookup", "kg_bgp_entailed",
    "kg_bgp_person_star", "doc_train_set", "doc_chunks", "doc_source_mixture",
    "doc_pack_seqs", "doc_repetition", "doc_bpe_pairs", "doc_bpe_encode",
    "doc_cross_dedup", "kg_bgp_optional", "kg_bgp_union", "kg_entail_rules",
    "kg_describe", "kg_bgp_minus", "kg_construct", "kg_graph_diff",
    "kg_path_mgr_names", "kg_path_peers", "kg_path_star_bound",
    "kg_crawl_incr", "kg_ntriples")

  private val PlansHeader =
    """# PLANS — physical plan evidence (explain formatted)
      |
      |Regenerate with `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Diag plans"`. Things to check per plan:
      |pushed filters reach the parquet scan, ReadSchema is pruned to used
      |columns, small join sides broadcast, codegen stages (`*`) span the
      |expression work, and the extraction stage contains no Exchange.
      |
      |Queries built on ConnectedComponents (kg_canonical_contacts,
      |doc_dedup_groups, sim_near_dup_groups, kg_link_components) eagerly
      |materialize the pair pipeline (localCheckpoint) and, for small edge
      |sets, solve components in one union-find task — their plans below
      |therefore start from the checkpointed RDD scan; the upstream
      |candidate-pair plans are the doc_minhash_pairs / sim_lsh_pairs
      |entries. The sim_ivf_topk assignment stage is the m>128 broadcast
      |path: the ONLY broadcast build side is the bounded centroid model.
      |The ITERATIVE graph ops (kg_path_reachable's semi-naive frontier,
      |kg_pagerank's power iteration, kg_entail_trans's semi-naive rule
      |fixpoint) checkpoint per iteration, so their final plans are
      |unions/scans of checkpointed RDDs; their per-iteration join shape is
      |documented in GraphQuery.pathPlus / GraphRank.pagerank /
      |Entailment scaladoc. Of the query-form plans:
      |kg_bgp_union's branches broadcast-join independently off pruned scans
      |(the union itself is metadata-only, the distinct is the one shuffle
      |set semantics demand); kg_bgp_minus/kg_describe end in an anti-/semi-
      |join whose SMALL side is the selective binding set (AQE broadcasts
      |it at runtime — the static dump shows the SMJ fallback shape).
      |Property-path plans: kg_path_mgr_names joins the checkpointed
      |reportsTo+ closure to the PRUNED pred='name' scan (the literal-
      |terminal Chain step — look for the pushed pred filter + pred_bucket
      |PartitionFilters on the name slice); kg_path_peers shows a path
      |frame and a triple-pattern frame meeting in the greedy join;
      |kg_path_star_bound's closure is SEEDED at the bound source, so its
      |plan is the union of cone deltas plus the zero-length literal row —
      |no full-graph closure anywhere. kg_crawl_incr is the READ side of
      |the standing crawl root (IncrementalGraph.readCanonical): the raw
      |batch_id/pred_bucket scan rewritten through the persisted link-state
      |mapping — the two rewrite joins touch ONLY the skolem-keyed slices
      |(non-skolem rows union back join-free), and the folds that BUILT the
      |root anti-joined each delta against a pred_bucket-PRUNED standing
      |slice (never the whole graph). kg_ntriples is the serialization
      |sink: its projection must sit inside ONE WholeStageCodegen span —
      |the nt_escape_iri/nt_escape_lit expressions exist precisely so the
      |escape work compiles (the regexp_replace-chain form blew janino's
      |64 KB method limit and silently ran interpreted).
      |
      |""".stripMargin

  /** Write `explain("formatted")` of each query to `out` (PLANS.md by
    * default), so pushdown/pruning/broadcast shape is reviewable without
    * rerunning (SURVEY.md §4.2), followed by the bucketed-star entry.
    */
  private def plans(out: String, names: Seq[String]): Unit = {
    val dir = sfDir
    val spark = GraftSession.local(GraftSession.localCpus)
    def plan(title: String, q: String): String =
      s"## $title\n\n```\n" +
        SparkEntry.queries(q)(spark, dir).queryExecution.explainString(FormattedMode) +
        "\n```\n\n"
    val sb = new StringBuilder(PlansHeader)
    names.foreach(n => sb ++= plan(n, n))
    // bucketed-star evidence: with broadcast disabled the subject-bucketed
    // scans ALONE must satisfy the star join's distribution — the dump must
    // show sort-merge joins with NO Exchange anywhere (the write-time
    // bucketing consumed by the query; at 100 TB this is the difference
    // between a shuffle of the whole graph and none)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sb ++= plan("kg_bgp_person_star — broadcast DISABLED (bucketed-scan distribution evidence)",
      "kg_bgp_person_star")
    Files.writeString(Paths.get(out), sb.result())
    println(s"wrote $out (${names.size + 1} plans)")
    spark.stop()
  }

  /** Connected-components strategy evidence at real edge counts: for each
    * size, two deterministic multigraphs run through BOTH strategies
    * (forced via [[AdaptiveStrategy.withLimits]]), checked to agree
    * exactly, one JSON line per (size, shape) — the measured basis for the
    * components edge limit in [[AdaptiveStrategy.Limits]] (SURVEY §4.4).
    */
  private def cc(sizes: Seq[Long]): Unit = {
    val spark = GraftSession.local(GraftSession.localCpus)
    spark.sparkContext.setLogLevel("ERROR")
    sizes.foreach { nEdges =>
      val nNodes = nEdges / 2 // avg degree 4 after symmetrize
      def node(c: org.apache.spark.sql.Column) = format_string("n%09d", pmod(c, lit(nNodes)))
      // "random" (murmur dst): a low-diameter giant component, the typical
      // dedup/link graph. "cycle" (affine dst mod N; i and i+N give the same
      // edge): a union of huge cycles, diameter Θ(N), label propagation's
      // worst case. Its 31-bit multiplier keeps id·a < 2^63 for id ≤ ~2^25
      // (ANSI mode throws on long overflow).
      Seq(
        "random" -> node(hash(col("id")).cast("long")),
        "cycle" -> node(col("id") * 1103515245L + 12345L)
      ).foreach { case (shape, dst) =>
        ccOne(nEdges, shape, spark.range(nEdges).select(node(col("id")).as("src"), dst.as("dst")))
      }
    }
    spark.stop()
  }

  private def ccOne(nEdges: Long, shape: String, edges: DataFrame): Unit = {
    // run() + count inside the timer: both strategies materialize their
    // result inside run(), so the mismatch join below reads cached blocks
    // for BOTH sides instead of re-running either CC
    def timed(limits: Limits) = Bench.timeIt {
      val labels = AdaptiveStrategy.withLimits(limits)(ConnectedComponents.run(edges))._1
      (labels, labels.count())
    }
    val ((uf, ufRows), ufSecs) = timed(Limits.Production.copy(componentsEdges = Long.MaxValue))
    val ((dist, distRows), distSecs) = timed(Limits.ForceDistributed)
    val mismatches = uf.withColumnRenamed("component", "cuf")
      .join(dist.withColumnRenamed("component", "cdist"), Seq("node"), "full")
      .filter(not(col("cuf") <=> col("cdist"))).count()
    println(s"""{"edges":$nEdges,"shape":"$shape","nodes":$ufRows,"union_find_secs":$ufSecs,"distributed_secs":$distSecs,"rows_match":${ufRows == distRows},"mismatches":$mismatches}""")
  }

  /** One level of `scripts/scaling_bench.sh`: the synthetic-transcript
    * extraction job at local[cpus] in THIS JVM (run it under
    * `-XX:ActiveProcessorCount=<cpus>`, as the script does, so GC and pool
    * sizing see only those cores). Equal JIT warmup, then the median of
    * five measured runs, printed as one JSON line.
    */
  private def scaling(cpus: Int, nTurns: Long): Unit = {
    val spark = GraftSession.local(cpus)
    def extract(turns: Long, convs: Long): Long =
      ExtractPipeline.extract(Transcripts.synthetic(spark, turns, convs)).count()
    val (n, s) = try {
      (1 to 2).foreach(_ => extract(nTurns / 4, nTurns / 80))
      val runs = (1 to 5).map(_ => Bench.timeIt(extract(nTurns, math.max(nTurns / 20, 1))))
      runs.sortBy(_._2)(Ordering.Double.TotalOrdering)(runs.size / 2)
    } finally spark.stop()
    println(f"""{"cpus":$cpus,"turns":$nTurns,"triples":$n,"secs":$s%.3f,"tps":${(n / s).toLong}}""")
  }
}
