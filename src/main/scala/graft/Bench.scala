package graft

import graft.spark.{ExtractPipeline, GraftSession, Transcripts}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * plus the headline triple-extraction throughput, printed as ONE JSON line.
  *
  * The sandbox hypervisor shows 2–7× run-to-run variance on identical plans,
  * so each query is measured `Samples` times in one JVM and the MEDIAN is
  * reported (min/max ride along in `queries_min`/`queries_max` so noisy
  * samples are visible instead of silently polluting the headline numbers).
  * BENCH_SELF.json is the canonical artifact (the driver's BENCH_r*.json
  * copy of stdout gets sbt log prefixes attached — see README).
  */
object Bench {
  /** Samples per query (median reported); SPARK_GRAFT_SAMPLES overrides —
    * the pinned-JVM re-measure protocol uses 5.
    */
  val Samples = sys.env.get("SPARK_GRAFT_SAMPLES").map { v =>
    require(v.forall(_.isDigit) && v.nonEmpty && v.toInt > 0,
      s"SPARK_GRAFT_SAMPLES must be a positive integer, got '$v'")
    v.toInt
  }.getOrElse(3)

  def timeIt[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Headline metric: extraction throughput (triples/sec) over synthetic
    * transcripts sized to the sf directory.
    */
  def extractionThroughput(spark: SparkSession, nTurns: Long): (Long, Double) = {
    val transcripts = Transcripts.synthetic(spark, nTurns, math.max(nTurns / 20, 1))
    // one untimed warmup so the measured run reflects steady-state JIT
    ExtractPipeline.extract(
      Transcripts.synthetic(spark, nTurns / 5, math.max(nTurns / 100, 1))).count()
    val runs = (0 until Samples).map(_ => timeIt {
      ExtractPipeline.extract(transcripts).count()
    })
    (runs.head._1, median(runs.map(_._2)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    // steady-state warmup (flagship pipeline on sf0.001): JIT + codegen for
    // the operator surface, so the first measured query doesn't absorb
    // session warmup (round-1 bench charged ~4s of it to doc_exact_dups)
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }

    // SPARK_GRAFT_ONLY=a,b,c restricts to named queries: the pinned-JVM
    // protocol for chasing a single query's regression without the other
    // ~50 plans filling the JIT code cache first (the round-4 gotcha).
    // Unknown names fail LOUDLY — a typo silently measuring zero queries
    // would read as "the query has no data". A filtered run also SKIPS the
    // LSH and extraction-throughput stages: they are full-suite evidence,
    // and minutes of discarded work would defeat the fast-chase purpose.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")} " +
          s"(known: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")})")
    }

    // headline: synthetic-transcript extraction, ~sf-scaled turn count
    // (skipped on a SPARK_GRAFT_ONLY diagnostic run — full-suite evidence).
    // Measured FIRST, before the ~165 generated query plans of the suite
    // loop fill the JVM code cache: the NORTH-STAR metric must reflect
    // steady-state extraction, not end-of-suite deoptimization (measured
    // 13x inflation when this ran last at 55 queries — same pathology the
    // LSH comment below records at ~150 plans).
    val nTurns = if (sfDir.contains("sf0.001")) 20000L
                 else if (sfDir.contains("sf0.01")) 100000L else 500000L
    val (triples, extractSecs) =
      if (only.isDefined) (0L, 0.0) else extractionThroughput(spark, nTurns)
    val tps = if (extractSecs > 0) (triples / extractSecs).toLong else 0L

    // portable-LCG LSH bucketing stage (the downstream candidate join is
    // timed by sim_lsh_pairs), measured BEFORE the query loop: after ~150
    // generated query plans the JVM code cache fills and fresh codegen can
    // run deoptimized, which once inflated this stage ~9x vs its standalone
    // timing.
    import org.apache.spark.sql.functions.{col, substring_index, sum => asum}
    // whole block failure-tolerant like the per-query loop: a missing or
    // empty embeddings table must not abort the bench (−1 marks the line
    // unusable)
    val lshLcg =
      try if (only.isDefined) -1.0 else {
        val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
          .localCheckpoint()
        median((0 until Samples).map { _ =>
          timeIt {
            graft.ops.VectorOps.lshBuckets(embs, 8, 4)
              .agg(asum(col("bucket"))).head().getLong(0)
          }._2
        })
      } catch {
        case e: Throwable => System.err.println(s"[bench] lsh: $e"); -1.0
      }

    // incremental maintenance vs from-scratch: the org tree's transitive
    // closure with a ~1% edge delta folded into a STANDING closure (the
    // nightly-crawl shape) vs re-closing everything. Evidence only —
    // correctness is kg_path_incr's oracle gate; the standing closure is
    // untimed setup (a deployment already has it).
    val (incrScratch, incrDelta) =
      try if (only.isDefined) (-1.0, -1.0) else {
        val edges = ExtractPipeline.canonicalize(ExtractPipeline.extract(
            Transcripts.orgChart(spark, sfDir))).toDF()
          .filter(col("pred") === "http://schema.org/reportsTo" && col("obj_iri").isNotNull)
          .select(col("subj").as("s"), col("obj_iri").as("o")).localCheckpoint()
        val key = substring_index(col("s"), "/", -1).cast("long")
        val closed = graft.spark.GraphQuery.closePairs(edges.filter(key % 128 =!= 1))
          .localCheckpoint()
        closed.count()
        val scratch = median((0 until Samples).map(_ => timeIt {
          graft.spark.GraphQuery.closePairs(edges).count()
        }._2))
        val incr = median((0 until Samples).map(_ => timeIt {
          graft.spark.GraphQuery.pathPlusIncremental(closed, edges.filter(key % 128 === 1))
            .count()
        }._2))
        (scratch, incr)
      } catch {
        case e: Throwable => System.err.println(s"[bench] incr: $e"); (-1.0, -1.0)
      }

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => only.forall(_.contains(t._1))).map { case (name, fn) =>
      val samples = (0 until Samples).map { _ =>
        timeIt {
          try fn(spark, sfDir).count()
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); -1L }
        }._2
      }
      (name, median(samples), samples.min, samples.max)
    }
    def dict(sel: ((String, Double, Double, Double)) => Double) =
      results.map(t => "\"" + t._1 + "\":" + f"${sel(t)}%.3f").mkString("{", ",", "}")
    val qs = dict(_._2)
    val qsMin = dict(_._3)
    val qsMax = dict(_._4)
    val total = results.map(_._2).sum + extractSecs
    val totalStr = f"$total%.3f"
    val exStr = f"$extractSecs%.3f"
    val incrSpeedup = if (incrScratch > 0 && incrDelta > 0) incrScratch / incrDelta else -1.0
    val lshStr = f""""lsh_lcg_secs":$lshLcg%.3f,"incr_scratch_secs":$incrScratch%.3f,"incr_delta_secs":$incrDelta%.3f,"incr_speedup":$incrSpeedup%.2f"""
    val json =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","samples":$Samples,"queries":$qs,"queries_min":$qsMin,"queries_max":$qsMax,"sf":"$sfDir","extract_turns":$nTurns,"extract_triples":$triples,"extract_secs":$exStr,"triples_per_sec":$tps,$lshStr}"""
    // machine-readable in two redundant ways (round-1 driver parse failed
    // on sbt log prefixes): a fixed file, and a bare final stdout line
    // printed after spark.stop() so no shutdown logging trails it
    // a SPARK_GRAFT_ONLY-filtered run is a diagnostic, not the canonical
    // artifact — never let it clobber the full-suite BENCH_SELF.json
    if (only.isEmpty) {
      val benchFile =
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/root/repo")))
          "/root/repo/BENCH_SELF.json"
        else "BENCH_SELF.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(benchFile), json + "\n")
    }
    spark.stop()
    println(json)
    System.out.flush()
  }
}
