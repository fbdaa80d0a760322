package graft.spark

import graft.ops.MultimodalOps
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Connected components forced through the distributed loop. */
  private def distributedCC(edges: org.apache.spark.sql.DataFrame, maxIterations: Int = 64) =
    AdaptiveStrategy.withLimits(AdaptiveStrategy.Limits.ForceDistributed)(
      ConnectedComponents.run(edges, maxIterations))._1

  test("EntityStats salted two-phase equals direct groupBy") {
    val triples = ExtractPipeline.extract(Transcripts.synthetic(spark, 500, 20))
    val salted = EntityStats.bySubject(triples).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = triples.groupBy($"subj")
      .agg(count(lit(1)).as("n"), size(collect_set($"pred")).cast("long").as("p"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("Resume: crash-resume produces the complete graph exactly once (file: URI Hadoop path)") {
    // a scheme-qualified URI, NOT a bare local path: the manifest must ride
    // the output path's own Hadoop FileSystem (hdfs://, s3a://) — a
    // driver-local java.nio manifest would track progress on the wrong
    // storage under spark-submit
    val out = "file://" + Files.createTempDirectory("graftresume").toString
    val t = Transcripts.synthetic(spark, 300, 15)
    val full = ExtractPipeline.extract(t).count()

    // first attempt "crashes" after 10 of 16 buckets: simulate by writing
    // with a manifest pre-committed for none, then manually committing only
    // a subset is equivalent to a second call being a no-op for those.
    val s1 = Resume.writeWithResume(t, out, nBuckets = 16)
    assert(s1.writtenBuckets.size == 16 && s1.rowsWritten == full)

    // resume on completed output: nothing to do
    val s2 = Resume.writeWithResume(t, out, nBuckets = 16)
    assert(s2.writtenBuckets.isEmpty && s2.rowsWritten == 0)
    assert(Resume.readGraph(spark, out).count() == full)

    // simulate partial completion: drop 3 manifest entries and corrupt one
    // bucket partition → resume rewrites exactly those buckets, idempotently
    val manifest = new org.apache.hadoop.fs.Path(out, "_graft_manifest")
    val fs = manifest.getFileSystem(spark.sessionState.newHadoopConf())
    Seq(0, 1, 2).foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(manifest, s"bucket-$b"), false))
    val s3 = Resume.writeWithResume(t, out, nBuckets = 16)
    assert(s3.writtenBuckets == Seq(0, 1, 2))
    assert(Resume.readGraph(spark, out).count() == full)
  }

  test("Resume: every row lands in its own conv_id bucket") {
    val out = "file://" + Files.createTempDirectory("graftresume_bk").toString
    val n = 8
    val s = Resume.writeWithResume(Transcripts.synthetic(spark, 200, 10), out, nBuckets = n)
    val g = Resume.readGraph(spark, out)
    assert(s.rowsWritten > 0 && g.count() == s.rowsWritten)
    // a null conv_id or bucket fails the equality, so it counts as misplaced
    assert(g.filter($"bucket" === pmod(crc32($"conv_id"), lit(n))).count() == s.rowsWritten)
  }

  test("N-Triples sink/source round-trips the canonical graph exactly") {
    val dir = Files.createTempDirectory("graftnt").toString
    val t = Transcripts.synthetic(spark, 300, 15)
    val triples = ExtractPipeline.canonicalize(ExtractPipeline.extract(t))
    graft.sources.NTriplesIO.write(triples, dir)
    val errs = spark.sparkContext.longAccumulator("nt_errs")
    val back = graft.sources.NTriplesIO.read(spark, dir, errs)
    def key(d: org.apache.spark.sql.Dataset[graft.model.Triple]) =
      d.collect().map(x => (x.subj, x.pred, x.obj_iri, x.obj_lexical, x.obj_datatype, x.obj_lang)).toSet
    assert(key(back) == key(triples))
    assert(errs.value == 0)
    // malformed lines are soft errors, not task failures
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-junk.txt"), "not a triple\n# comment\n\n")
    val errs2 = spark.sparkContext.longAccumulator("nt_errs2")
    assert(key(graft.sources.NTriplesIO.read(spark, dir, errs2)) == key(triples))
    assert(errs2.value == 1)
  }

  test("Streaming extraction matches batch extraction") {
    val dir = Files.createTempDirectory("graftstream").toString
    val t = Transcripts.synthetic(spark, 200, 10)
    t.write.mode("overwrite").parquet(dir)
    val batch = ExtractPipeline.extract(spark.read.parquet(dir)).count()

    val q = StreamingExtract.extractStream(spark, dir)
      .writeStream.format("memory").queryName("triples_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    val streamed = spark.sql("SELECT count(*) FROM triples_stream").head().getLong(0)
    q.stop()
    assert(streamed == batch)
  }

  test("Streaming sinkToGraph materializes a queryable pred_bucket graph") {
    val dir = Files.createTempDirectory("graftsink_in").toString
    val out = Files.createTempDirectory("graftsink_out").toString
    val cp = Files.createTempDirectory("graftsink_cp").toString
    Transcripts.synthetic(spark, 120, 6).write.mode("overwrite").parquet(dir)

    val q = graft.streaming.StreamingExtract.sinkToGraph(
      StreamingExtract.extractStream(spark, dir), s"$out/graph", cp, predBuckets = 8)
    q.processAllAvailable()
    q.stop()

    // the sunk graph answers the same BGP as batch extraction of the input
    val g = graft.spark.GraphQuery.loadGraph(spark, s"$out/graph")
    assert(g.predBuckets == 8) // layout metadata survived the streaming write
    import graft.spark.GraphQuery.{C, V}
    val streamed = graft.spark.GraphQuery.bgp(g, Seq(
        (V("s"), C("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"), V("t"))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val batch = ExtractPipeline.extract(spark.read.parquet(dir)).toDF()
    val expected = graft.spark.GraphQuery.bgp(graft.spark.GraphQuery.PersistedGraph(batch, 0, Map.empty), Seq(
        (V("s"), C("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"), V("t"))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == expected && streamed.nonEmpty)
  }

  test("Streaming sinkToGraph restart from checkpoint adds only the new batch, no duplicates") {
    val dir = Files.createTempDirectory("graftsink2_in").toString
    val out = Files.createTempDirectory("graftsink2_out").toString
    val cp = Files.createTempDirectory("graftsink2_cp").toString
    Transcripts.synthetic(spark, 60, 4).write.parquet(s"$dir/b1")

    def runStream(predBuckets: Int = 4): Unit = {
      val q = graft.streaming.StreamingExtract.sinkToGraph(
        StreamingExtract.extractStream(spark, s"$dir/*"), s"$out/graph", cp, predBuckets)
      q.processAllAvailable(); q.stop()
    }
    runStream() // first life: batch 1 only
    val afterFirst = spark.read.parquet(s"$out/graph").count()
    assert(afterFirst > 0)

    // second life: NO new input — a checkpoint resume must reprocess and
    // add NOTHING
    runStream()
    assert(spark.read.parquet(s"$out/graph").count() == afterFirst)

    // third life: genuinely new turns land (disjoint id range — synthetic
    // is deterministic per id, so exceptAll carves ids 60..259), the SAME
    // checkpoint resumes — old batches must not be re-extracted. The
    // restart passes a DIFFERENT predBuckets: the dir describes itself, so
    // the recorded count must win (a rewrite would mis-prune every earlier
    // batch) and the new batch must hash with the recorded count too
    Transcripts.synthetic(spark, 260, 4).exceptAll(Transcripts.synthetic(spark, 60, 4))
      .write.parquet(s"$dir/b2")
    runStream(predBuckets = 16)
    assert(graft.spark.GraphQuery.loadGraph(spark, s"$out/graph").predBuckets == 4)
    val rows = spark.read.parquet(s"$out/graph")
    // exactly-once at rest: per-(identity, lineage) rows are unique
    assert(rows.count() ==
      rows.dropDuplicates(graft.model.Triple.identityCols ++ Seq("conv_id", "turn_idx")).count())
    // and the sunk set equals the batch extraction of ALL input files
    val batchAll = ExtractPipeline.extract(spark.read.parquet(s"$dir/*"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("subj", "pred", "obj_iri", "obj_lexical", "conv_id", "turn_idx")
      .collect().map(_.toSeq).toSet
    assert(key(rows) == key(batchAll.toDF()))
    // and the PRUNED constant-predicate path (pred_bucket partition filter
    // from the recorded count) still finds the life-3 rows — the silent
    // failure a layout rewrite would cause
    import graft.spark.GraphQuery.{C, V}
    val g = graft.spark.GraphQuery.loadGraph(spark, s"$out/graph")
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val pruned = graft.spark.GraphQuery.bgp(g, Seq((V("s"), C(rdfType), V("t"))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expect = graft.spark.GraphQuery.bgp(
        graft.spark.GraphQuery.PersistedGraph(batchAll.toDF(), 0, Map.empty),
        Seq((V("s"), C(rdfType), V("t"))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == expect && pruned.nonEmpty)
  }

  test("Streaming windowed conv counts run with watermark") {
    val dir = Files.createTempDirectory("graftstream2").toString
    Transcripts.synthetic(spark, 100, 5).write.mode("overwrite").parquet(dir)
    val q = StreamingExtract.windowedConvCounts(spark, dir)
      .writeStream.format("memory").queryName("conv_counts")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // append mode emits only closed windows; with a single static batch the
    // watermark hasn't advanced past them — the query must still run clean.
    assert(spark.sql("SELECT * FROM conv_counts").columns.contains("n_turns"))
  }

  test("Streaming stateful sessionization closes sessions on gap proof and watermark timeout") {
    import graft.streaming.StreamingExtract.{SessionEvent, sessionStream}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = Files.createTempDirectory("graftsess").toString
    // batch 1: u1 has two sessions (85-min gap), u2 one event
    Seq(SessionEvent(1L, ts("2026-01-01 10:00:00")), SessionEvent(1L, ts("2026-01-01 10:05:00")),
        SessionEvent(1L, ts("2026-01-01 11:30:00")), SessionEvent(2L, ts("2026-01-01 10:02:00")))
      .toDS().coalesce(1).write.parquet(s"$dir/b1")
    // batches 2+3: far-future events push the watermark past every gap horizon
    Seq(SessionEvent(9L, ts("2026-01-01 20:00:00"))).toDS().coalesce(1).write.parquet(s"$dir/b2")
    Seq(SessionEvent(9L, ts("2026-01-01 23:00:00"))).toDS().coalesce(1).write.parquet(s"$dir/b3")

    val src = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .as[SessionEvent]
    val q = sessionStream(src, gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT user_id, session_start, session_end, n_events FROM sessions_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSet
    // u1's first session closed by gap proof inside batch 1; u1's second and
    // u2's session closed by event-time timeout once the watermark passed
    assert(out.contains((1L, "2026-01-01 10:00:00.0", "2026-01-01 10:05:00.0", 2L)))
    assert(out.contains((1L, "2026-01-01 11:30:00.0", "2026-01-01 11:30:00.0", 1L)))
    assert(out.contains((2L, "2026-01-01 10:02:00.0", "2026-01-01 10:02:00.0", 1L)))
  }

  test("Streaming sessionization resumes from checkpoint with exactly-once output") {
    import graft.streaming.StreamingExtract.{SessionEvent, sessionStream}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(SessionEvent(1L, ts("2026-01-01 10:00:00")), SessionEvent(1L, ts("2026-01-01 10:05:00")),
      SessionEvent(1L, ts("2026-01-01 11:30:00")), SessionEvent(2L, ts("2026-01-01 10:02:00")))
    val b2 = Seq(SessionEvent(9L, ts("2026-01-01 20:00:00")))
    val b3 = Seq(SessionEvent(9L, ts("2026-01-01 23:00:00")))

    def readOut(out: String) = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))

    // one incarnation of the query against (in, cp, out); parquet sink +
    // checkpointLocation is the exactly-once contract under restart
    def run(in: String, cp: String, out: String): Unit = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*").as[SessionEvent]
      val q = sessionStream(src, gapMinutes = 30)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    // interrupted: process b1, stop (simulated kill), land b2+b3, restart
    // the SAME query from its checkpoint (offsets + session state + sink
    // commit log all restored)
    val a = Files.createTempDirectory("graftresume_a").toString
    b1.toDS().coalesce(1).write.parquet(s"$a/in/b1")
    run(s"$a/in", s"$a/cp", s"$a/out")
    val afterKill = readOut(s"$a/out").toSet
    b2.toDS().coalesce(1).write.parquet(s"$a/in/b2")
    b3.toDS().coalesce(1).write.parquet(s"$a/in/b3")
    run(s"$a/in", s"$a/cp", s"$a/out")

    // uninterrupted twin: same batches, one incarnation
    val u = Files.createTempDirectory("graftresume_u").toString
    b1.toDS().coalesce(1).write.parquet(s"$u/in/b1")
    b2.toDS().coalesce(1).write.parquet(s"$u/in/b2")
    b3.toDS().coalesce(1).write.parquet(s"$u/in/b3")
    run(s"$u/in", s"$u/cp", s"$u/out")

    val resumed = readOut(s"$a/out")
    val straight = readOut(s"$u/out")
    // exactly-once: no session row duplicated across the restart...
    assert(resumed.distinct.length == resumed.length)
    // ...the pre-kill emissions are a strict subset (work genuinely spans
    // the restart: batch 1's gap-proof close fires before the kill)...
    assert(afterKill.nonEmpty && afterKill.subsetOf(resumed.toSet))
    assert(resumed.toSet != afterKill)
    // ...and the resumed output equals the uninterrupted run's exactly
    assert(resumed.toSet == straight.toSet && straight.nonEmpty)
    assert(resumed.toSet.contains((1L, "2026-01-01 10:00:00.0", "2026-01-01 10:05:00.0", 2L)))
  }

  test("Streaming sessionization equals the batch events_sessions query on the full sf0.001 events table") {
    import graft.streaming.StreamingExtract.{SessionEvent, sessionStream}
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    // batch truth: the driver query's lag-window sessionization
    val batchRows = graft.SparkEntry.queries("events_sessions")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    // stream the same events, then two far-future sentinel batches so the
    // watermark passes every real session's gap horizon (timeouts fire on
    // the NEXT batch after the watermark advances)
    val dir = Files.createTempDirectory("graftsessfull").toString
    // events.ts is TIMESTAMP_NTZ in the parquet — cast like the batch query does
    val maxTs = events.agg(max($"ts".cast("timestamp")).cast("long")).head().getLong(0) * 1000L
    events.select($"user_id", $"ts".cast("timestamp").as("ts")).as[(Long, java.sql.Timestamp)]
      .map { case (u, t) => SessionEvent(u, t) }
      .coalesce(1).write.parquet(s"$dir/b1")
    Seq(SessionEvent(-1L, new java.sql.Timestamp(maxTs + 10L * 86400000)))
      .toDS().coalesce(1).write.parquet(s"$dir/b2")
    Seq(SessionEvent(-1L, new java.sql.Timestamp(maxTs + 20L * 86400000)))
      .toDS().coalesce(1).write.parquet(s"$dir/b3")
    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*").as[SessionEvent]
    val q = sessionStream(src, gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_full").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events " +
      "FROM sessions_full WHERE user_id >= 0 GROUP BY user_id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batchRows)
    assert(batchRows.nonEmpty)
  }

  test("ConnectedComponents: chain graph converges to one component (both paths)") {
    val edges = (1 to 9).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    // default: single-task union-find fallback (small graph)
    val cc = ConnectedComponents.run(edges).collect()
    assert(cc.map(_.getString(1)).distinct.toSeq == Seq("n1"))
    assert(cc.length == 10)
    // forced distributed loop must agree exactly
    val ccDist = distributedCC(edges).collect()
    assert(ccDist.map(r => (r.getString(0), r.getString(1))).toSet ==
      cc.map(r => (r.getString(0), r.getString(1))).toSet)
    // two disjoint chains → two components
    val edges2 = edges.union(Seq(("a1", "a2"), ("a2", "a3")).toDF("src", "dst"))
    val cc2 = ConnectedComponents.run(edges2)
    assert(cc2.select("component").distinct().count() == 2)
  }

  test("Streaming dedup drops within-watermark duplicates, keeps first occurrences") {
    import graft.streaming.StreamingExtract
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = Files.createTempDirectory("graftdedup").toString
    // batch 1: three distinct texts; batch 2 (minutes later, inside the
    // watermark): one exact dup of "aaa" plus one new text
    Seq((1L, "aaa", ts("2026-01-01 10:00:00")), (2L, "bbb", ts("2026-01-01 10:00:10")),
        (3L, "ccc", ts("2026-01-01 10:00:20")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/b1")
    Seq((4L, "aaa", ts("2026-01-01 10:02:00")), (5L, "ddd", ts("2026-01-01 10:02:10")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = StreamingExtract.dedupStream(src, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.sql("SELECT doc_id, text FROM dedup_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((1L, "aaa"), (2L, "bbb"), (3L, "ccc"), (5L, "ddd")))
  }

  test("ConnectedComponents: distributed loop converges in O(log diameter) rounds on a long chain") {
    // 512-node chain (diameter 511): min-label + pointer-jumping halves
    // label paths per round, so ~log2(511) + slack rounds must suffice —
    // a linear-propagation implementation would need ~511 and fail here
    val n = 512
    val edges = (1 until n).map(i => (f"v$i%04d", f"v${i + 1}%04d")).toDF("src", "dst")
    val cc = distributedCC(edges, maxIterations = 14)
      .collect()
    assert(cc.length == n)
    assert(cc.map(_.getString(1)).distinct.toSeq == Seq("v0001"))
  }

  test("ConnectedComponents: non-convergence THROWS instead of returning mid-propagation labels") {
    // a 512-node chain cannot converge in a single round once its edges are
    // genuinely spread over partitions (the union-find init then contracts
    // only per-partition runs and the hash-scattered quotient is still a
    // long chain); AQE must be off here because on test-sized data it
    // coalesces the init repartition to ONE partition, where the init is
    // exact and one round legitimately converges. Silent return of the
    // intermediate labels would be a wrong answer (caught live by the
    // components bench, now `graft.Diag cc`, when a giant-cycle graph
    // exceeded the old default round cap).
    val edges = (1 until 512).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      intercept[IllegalStateException] {
        distributedCC(edges, maxIterations = 1).count()
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("ConnectedComponents: non-ASCII ids elect the same UTF-8-byte-order min on both paths") {
    // "a�" < "a😀" (U+1F600) in UTF-8 bytes (EF BF BD < F0 9F...),
    // but Java String.compareTo says the SURROGATE is smaller — a
    // code-unit-order min election would pick the emoji id and diverge from
    // Spark's UTF8String min. Both strategies must agree on the byte min.
    val ids = Seq("a�", "a😀", "z1", "z2")
    val edges = Seq((ids(0), ids(1)), (ids(1), ids(2)), (ids(2), ids(3)))
      .toDF("src", "dst")
    val uf = ConnectedComponents.run(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dist = distributedCC(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(uf == dist)
    assert(uf.map(_._2) == Set("a�")) // the UTF-8 byte-order min
  }

  test("ConnectedComponents: union-find and distributed paths agree on a random multigraph") {
    // deterministic pseudo-random graph with dup edges, self-loops, stars
    // and chains — exercises path compression and multi-round convergence
    val rnd = new scala.util.Random(20260816L)
    val edges = ((0 until 400).map { _ =>
      val a = rnd.nextInt(120); val b = rnd.nextInt(120)
      (f"v$a%03d", f"v$b%03d")
    } ++ (0 until 10).map(i => (f"v$i%03d", f"v$i%03d"))).toDF("src", "dst")
    val uf = ConnectedComponents.run(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dist = distributedCC(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(uf == dist)
    // every component label is the min of its members
    val byComp = uf.groupBy(_._2)
    byComp.foreach { case (lbl, members) => assert(members.map(_._1).min == lbl) }
  }

  test("EntityLink: transitive mentions merge; triples rewrite to canonical subject") {
    val turns = Seq(
      ("c1", 0, """<div itemscope itemtype="http://schema.org/Person"><span itemprop="contact">k1</span><span itemprop="contact">k2</span><span itemprop="name">Ann A</span></div>"""),
      ("c1", 1, """<div itemscope itemtype="http://schema.org/Person"><span itemprop="contact">k2</span><span itemprop="contact">k3</span></div>"""),
      ("c2", 0, """<div itemscope itemtype="http://schema.org/Person"><span itemprop="contact">k3</span><span itemprop="name">Ann B</span></div>"""),
      ("c3", 0, """<div itemscope itemtype="http://schema.org/Person"><span itemprop="contact">zz</span><span itemprop="name">Other</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.extract(turns)
    val linked = EntityLink.canonicalize(triples, Seq("http://schema.org/contact"))
    // three mentions merged into one entity holding both names; "Other" separate
    val names = linked.filter($"pred" === "http://schema.org/name")
      .select($"subj", $"obj_lexical").collect()
    val bySubj = names.groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(bySubj.size == 2)
    assert(bySubj.values.toSet == Set(Set("Ann A", "Ann B"), Set("Other")))
  }

  test("EntityLink salts hot blocking keys: components identical, buckets bounded") {
    // 300 mentions share ONE contact value — with maxKeyDegree=50 the key
    // splits into 6 chained sub-keys; transitive identity must survive
    val turns = (0 until 300).map(i =>
      (s"h$i", 0, """<div itemscope itemtype="http://schema.org/Person"><span itemprop="contact">HOT</span></div>"""))
      .toDF("conv_id", "turn_idx", "text")
    val triples = ExtractPipeline.extract(turns)
    val salted = EntityLink.mentionMapping(triples, Seq("http://schema.org/contact"),
      maxKeyDegree = 50)
    assert(salted.count() == 300)
    assert(salted.select($"canonical").distinct().count() == 1)
    // and the mapping equals the unsalted one exactly
    val plain = EntityLink.mentionMapping(triples, Seq("http://schema.org/contact"))
    assert(salted.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      plain.collect().map(r => (r.getString(0), r.getString(1))).toSet)
  }

  test("Multimodal: decode/featurize/frame-sample are deterministic with typed schemas") {
    val media = MultimodalOps.syntheticMedia(spark, 50)
    val meta = MultimodalOps.decodeMeta(media).collect().sortBy(_.media_id)
    assert(meta.length == 50)
    assert(meta.head.width == 64 && meta.head.byte_len == meta.head.byte_len)
    assert(meta.map(_.kind).distinct.sorted.sameElements(Array("audio", "image", "video")))

    val f1 = MultimodalOps.featurize(media).collect().sortBy(_.media_id).map(_.feature.toSeq)
    val f2 = MultimodalOps.featurize(media).collect().sortBy(_.media_id).map(_.feature.toSeq)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.head.size == 16)

    val frames = MultimodalOps.sampleFrames(media, everyMs = 10000)
    assert(frames.count() > 0)
    assert(frames.filter($"frame_idx" < 0).count() == 0)

    // resize: bounded dims, aspect preserved, schema unchanged, deterministic
    val resized = MultimodalOps.resize(media, maxDim = 100)
    val rmeta = MultimodalOps.decodeMeta(resized).collect()
    assert(rmeta.forall(m => m.kind != "image" || (m.width <= 100 && m.height <= 100)))
    val before = meta.filter(m => m.kind == "image" && m.width > 100).map(m => m.media_id -> m).toMap
    rmeta.filter(m => before.contains(m.media_id)).foreach { m =>
      val b = before(m.media_id)
      val ratioB = b.width.toDouble / b.height
      val ratioA = m.width.toDouble / m.height
      assert(math.abs(ratioA - ratioB) / ratioB < 0.1, s"aspect drift: $b -> $m")
    }
    val r2 = MultimodalOps.resize(media, maxDim = 100).collect().map(_.payload.toSeq)
    assert(resized.collect().map(_.payload.toSeq).toSeq == r2.toSeq)
  }

  // ---- incremental component maintenance ----

  private def ccSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("ConnectedComponents.incremental equals from-scratch on a component merge") {
    val oldE = Seq(("a1", "a2"), ("b1", "b2")).toDF("src", "dst")
    val newE = Seq(("a2", "b1")).toDF("src", "dst") // merges the two
    val labels = ConnectedComponents.run(oldE)
    val incr = ccSet(ConnectedComponents.incremental(labels, newE))
    val scratch = ccSet(ConnectedComponents.run(oldE.union(newE)))
    assert(incr == scratch)
    assert(incr.forall(_._2 == "a1")) // merged min label
  }

  test("ConnectedComponents.incremental: new nodes, untouched components, intra-component delta") {
    val oldE = Seq(("a1", "a2"), ("b1", "b2"), ("c1", "c2")).toDF("src", "dst")
    val newE = Seq(
      ("a1", "a2"),  // intra-component: must change nothing
      ("b2", "x9"),  // attaches a brand-new node to b's component
      ("z1", "z2")   // a wholly new component
    ).toDF("src", "dst")
    val labels = ConnectedComponents.run(oldE)
    val incr = ccSet(ConnectedComponents.incremental(labels, newE))
    val scratch = ccSet(ConnectedComponents.run(oldE.union(newE)))
    assert(incr == scratch)
    assert(incr.contains(("x9", "b1")) && incr.contains(("z2", "z1")))
    assert(incr.contains(("c1", "c1")) && incr.contains(("c2", "c1"))) // untouched
  }

  test("ConnectedComponents.incremental: empty delta returns the standing labels") {
    val oldE = Seq(("a1", "a2")).toDF("src", "dst")
    val labels = ConnectedComponents.run(oldE)
    val incr = ConnectedComponents.incremental(labels,
      Seq.empty[(String, String)].toDF("src", "dst"))
    assert(ccSet(incr) == ccSet(labels))
  }

  test("EntityLink incremental: a hot key salted differently across batches still merges") {
    import graft.model.Triple
    val pfx = graft.core.Extractor.SkolemPrefix
    def mention(id: String, key: String) =
      Triple(pfx + id, "p", null, key, null, null, "c", 0)
    // standing batch: 5 mentions on key K — maxKeyDegree=2 splits K into
    // sub-keys (raw-K anchor chained in); delta: ONE mention on K, whose
    // own degree count leaves it unsalted → it lands on the raw K node
    val standing = (1 to 5).map(i => mention(s"a$i", "K")).toDS()
    val delta = Seq(mention("zz", "K")).toDS()
    val st = EntityLink.mentionLinkStateIncremental(
      EntityLink.mentionLinkState(standing, Seq("p"), maxKeyDegree = 2),
      delta, Seq("p"), maxKeyDegree = 2)
    val m = EntityLink.mappingFromState(st).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(m.size == 6 && m.values.toSet.size == 1)
    assert(m(pfx + "zz") == m(pfx + "a1"))
    // reverse direction: standing unsalted, delta splits the key
    val st2 = EntityLink.mentionLinkStateIncremental(
      EntityLink.mentionLinkState(delta, Seq("p"), maxKeyDegree = 2),
      standing, Seq("p"), maxKeyDegree = 2)
    val m2 = EntityLink.mappingFromState(st2).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(m2.size == 6 && m2.values.toSet.size == 1)
  }

  test("ConnectedComponents.incremental: chained merges across several old components") {
    // delta chains four standing components through new bridge nodes —
    // the quotient graph itself needs multi-hop resolution
    val oldE = Seq(("a1", "a2"), ("b1", "b2"), ("c1", "c2"), ("d1", "d2"))
      .toDF("src", "dst")
    val newE = Seq(("a2", "b1"), ("b2", "c1"), ("c2", "d1")).toDF("src", "dst")
    val labels = ConnectedComponents.run(oldE)
    val incr = ccSet(ConnectedComponents.incremental(labels, newE))
    assert(incr == ccSet(ConnectedComponents.run(oldE.union(newE))))
    assert(incr.map(_._2) == Set("a1"))
  }
}
