package graft

import graft.model.Triple
import graft.ops.{TextOps, VectorOps}
import graft.spark.{Entailment, ExtractPipeline, Transcripts}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is deterministic and fully sorted; each oracleSql
  * entry reconstructs the *expected* output in ANSI SQL (DuckDB) straight
  * from the source parquet tables, so the KG queries gate the whole
  * parse→extract→canonicalize path end-to-end.
  */
object SparkEntry {

  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Merge list for the doc_bpe_encode gate, rank order. Chosen over the
    * documents vocabulary so multi-level composition fires: `tab|le`
    * requires the outputs of three earlier merges.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "l" -> "e", "tab" -> "le", "a" -> "s",
    "s" -> "c", "r" -> "o", "ro" -> "w", "v" -> "a", "va" -> "l")

  /** Canonical triples from the customer-derived transcripts. */
  private def customerTriples(s: SparkSession, dir: String): Dataset[Triple] =
    ExtractPipeline.canonicalize(
      ExtractPipeline.extract(Transcripts.customers(s, dir)))

  private val GraphPredBuckets = 16

  /** The customer KG persisted once per input dir via
    * [[ExtractPipeline.writeGraph]] (pred_bucket-partitioned parquet — the
    * deployment layout), plus its one-pass predicate stats. Consumer-side
    * queries (BGP) read THIS table, not an in-memory frame, so pushdown
    * and partition pruning are exercised for real; the write is setup
    * (a deployment's graph already exists), cached per (dir, sf).
    */
  // one PRIVATE base dir per JVM (no cross-process race on a shared path),
  // removed by a shutdown hook (no leak across runs); only the written
  // PATH is cached — the frame is re-opened with the CALLING session every
  // time, so a stopped first session can't poison later callers, and
  // loadGraph reads stats/buckets from the layout metadata (no re-scan)
  private lazy val graphTmpBase: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_graphs_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p) // close: walk holds dir handles
        val paths = try walk.iterator().asScala.toSeq finally walk.close()
        paths.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }))
    p
  }
  // values are lazy holders so the multi-second Spark write runs OUTSIDE
  // the map's bin lock (computeIfAbsent's contract wants short mappers;
  // a long-running mapper stalls unrelated colliding keys and a reentrant
  // build would throw 'Recursive update'); racing threads share one holder
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()

  /** What `build` returns for `id` within `slot`, built once per JVM:
    * `build` gets the 12-hex MD5 prefix of `id` to name its path or table.
    */
  private def cached(slot: String, id: String)(build: String => String): String = {
    val holder = new (() => String) {
      lazy val value: String = build(java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12))
      def apply(): String = value
    }
    val prev = built.putIfAbsent(s"$slot|$id", holder)
    (if (prev != null) prev else holder)()
  }

  private def persistedGraph(s: SparkSession, cacheKey: String)
                            (build: => Dataset[Triple]): graft.spark.GraphQuery.PersistedGraph =
    graft.spark.GraphQuery.loadGraph(s, cached("graph", cacheKey) { key =>
      val p = graphTmpBase.resolve(s"g$key").toString
      ExtractPipeline.writeGraph(build, p, GraphPredBuckets)
      p
    })
  private def persistedCustomerGraph(s: SparkSession, dir: String): graft.spark.GraphQuery.PersistedGraph =
    persistedGraph(s, dir)(customerTriples(s, dir))
  private def persistedOrgGraph(s: SparkSession, dir: String): graft.spark.GraphQuery.PersistedGraph =
    persistedGraph(s, "org|" + dir)(
      ExtractPipeline.canonicalize(ExtractPipeline.extract(graft.spark.Transcripts.orgChart(s, dir))))

  /** The customer KG as a SUBJECT-BUCKETED catalog table (writeGraphBucketedBySubject
    * — the entity-assembly layout): subject-star BGP joins run Exchange-free
    * off the bucketed scans. The table lives in a session CATALOG (the
    * in-memory catalog dies with the SparkContext), so the cache is keyed
    * per (applicationId, dir) — a later SparkContext re-registers the
    * table.
    */
  private def bucketedCustomerGraph(s: SparkSession, dir: String): graft.spark.GraphQuery.PersistedGraph =
    graft.spark.GraphQuery.loadBucketedGraph(s,
      cached("subj|" + s.sparkContext.applicationId, dir) { key =>
        val tbl = s"graft_subj_$key"
        ExtractPipeline.writeGraphBucketedBySubject(customerTriples(s, dir), tbl,
          buckets = GraphPredBuckets, path = graphTmpBase.resolve(s"b$key").toString)
        tbl
      })

  /** Standing crawl root for kg_crawl_incr: the mention corpus folded in
    * two turn-sliced batches through [[graft.spark.IncrementalGraph]]
    * (raw-graph novel append + versioned link state on disk). Folding is
    * idempotent, so the cache is a cost-saver, not a correctness
    * requirement.
    */
  private def crawlRoot(s: SparkSession, dir: String): String = cached("crawl", dir) { key =>
    val root = graphTmpBase.resolve(s"c$key").toString
    import s.implicits._
    val contact = Seq("http://schema.org/contact")
    val all = ExtractPipeline.extract(Transcripts.mentions(s, dir)).localCheckpoint()
    graft.spark.IncrementalGraph.foldBatch(
      all.filter(col("turn_idx") <= 2).as[Triple], root, linkKeys = contact)
    graft.spark.IncrementalGraph.foldBatch(
      all.filter(col("turn_idx") >= 3).as[Triple], root, linkKeys = contact)
    root
  }

  /** Flagship: full extraction pipeline over all three transcript shapes
    * at sf=0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val all = Transcripts.customers(spark, dir)
      .unionByName(Transcripts.orders(spark, dir))
      .unionByName(Transcripts.suppliers(spark, dir))
    ExtractPipeline.canonicalize(ExtractPipeline.extract(all)).toDF()
  }

  /** Drop storage blocks a PREVIOUS query invocation left behind (guide §5:
    * unpersist when done — "cached data competes with execution memory").
    * Every query pipeline materializes its intermediates with eager
    * `localCheckpoint()` calls that are only reachable within that one
    * invocation; the harnesses (Bench samples each query 3x in one JVM,
    * Verify runs all ~80 sequentially) drop the returned frame after the
    * action, but the blocks stay pinned until the driver GC happens to run
    * the async ContextCleaner. Across 3 samples x ~80 queries those
    * leftovers fill the unified memory pool, evict each other to disk and
    * drive full-GC churn — BENCH_r05 measured doc_dedup_groups inflating
    * 4s -> 88s across its own three samples from exactly this. Each query
    * starts by releasing everything still persisted: at that moment no
    * earlier frame can be live (queries are self-contained — they rebuild
    * all state from the parquet inputs; the cross-invocation caches hold
    * PATHS to on-disk layouts, never RDDs).
    */
  private def dropLeftoverBlocks(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))

  /** The named queries. Contract: ONE query frame live at a time per
    * session — building a query first unpersists every RDD the session
    * still holds (see `dropLeftoverBlocks`), so a frame from an earlier
    * call must be consumed before the next query is built; two query
    * frames cannot be composed.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => { dropLeftoverBlocks(s); fn(s, dir) })
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG extraction (oracle reconstructs expected triples) ----
    "kg_types" -> ((s, dir) =>
      customerTriples(s, dir)
        .filter(col("pred") === RdfType)
        .select(col("subj"), col("obj_iri"))
        .orderBy(col("subj"), col("obj_iri"))),

    "kg_literals" -> ((s, dir) =>
      customerTriples(s, dir)
        .filter(col("obj_iri").isNull)
        .select(col("subj"), col("pred"), col("obj_lexical"), col("obj_datatype"), col("obj_lang"))
        .orderBy(col("subj"), col("pred"), col("obj_lexical"))),

    "kg_links" -> ((s, dir) =>
      customerTriples(s, dir)
        .filter(col("obj_iri").isNotNull && col("pred") =!= RdfType)
        .select(col("subj"), col("pred"), col("obj_iri"))
        .orderBy(col("subj"), col("pred"), col("obj_iri"))),

    "kg_itemref" -> ((s, dir) =>
      ExtractPipeline.canonicalize(
          ExtractPipeline.extract(Transcripts.orders(s, dir)))
        .select(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"), col("obj_datatype"))
        .orderBy(col("subj"), col("pred"), col("obj_iri"), col("obj_lexical"))),

    "kg_reverse" -> ((s, dir) =>
      ExtractPipeline.canonicalize(
          ExtractPipeline.extract(Transcripts.suppliers(s, dir)))
        .filter(col("pred") === "http://schema.org/seller")
        .select(col("subj"), col("pred"), col("obj_iri"))
        .orderBy(col("subj"))),

    "kg_entail" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        Triple("http://schema.org/name", Entailment.SubPropertyOf,
          "http://ex.org/label", null, null, null, "schema", -1),
        Triple("http://ex.org/label", Entailment.EquivalentProperty,
          "http://ex.org/title", null, null, null, "schema", -1)).toDS()
      Entailment.owlEntail(customerTriples(s, dir).unionByName(edges))
        .filter(col("pred").isin("http://ex.org/label", "http://ex.org/title"))
        .select(col("subj"), col("pred"), col("obj_lexical"))
        .orderBy(col("subj"), col("pred"), col("obj_lexical"))
    }),

    // INCREMENTAL closure maintenance: the standing graph is closed FIRST
    // (trivially — no schema edges yet), then the schema edges arrive as
    // the DELTA batch; owlEntailIncremental must replay the closed facts
    // through the new edges AND iterate the derived label facts into title
    // — same expected output as kg_entail, proving incremental == scratch
    // against the independent oracle
    "kg_entail_incr" -> ((s, dir) => {
      import s.implicits._
      val closed = Entailment.owlEntail(customerTriples(s, dir))
      val delta = Seq(
        Triple("http://schema.org/name", Entailment.SubPropertyOf,
          "http://ex.org/label", null, null, null, "schema", -1),
        Triple("http://ex.org/label", Entailment.EquivalentProperty,
          "http://ex.org/title", null, null, null, "schema", -1)).toDS()
      Entailment.owlEntailIncremental(closed, delta)
        .filter(col("pred").isin("http://ex.org/label", "http://ex.org/title"))
        .select(col("subj"), col("pred"), col("obj_lexical"))
        .orderBy(col("subj"), col("pred"), col("obj_lexical"))
    }),

    // the EXTENDED rule set (prp-inv, cax-sco chain) in one gate: inverse
    // edges derive manages from reportsTo over the org tree, a two-level
    // subClassOf chain types every Person as Agent AND Thing (second level
    // only reachable through the fixpoint's delta iteration) — and the
    // closure is PERSISTED through writeGraph before being read back, the
    // 100-TB entail-once-query-many shape
    "kg_entail_rules" -> ((s, dir) => {
      import s.implicits._
      val schema = Seq(
        Triple("http://schema.org/reportsTo", Entailment.InverseOf,
          "http://ex.org/manages", null, null, null, "schema", -1),
        Triple("http://schema.org/Person", Entailment.SubClassOf,
          "http://ex.org/Agent", null, null, null, "schema", -1),
        Triple("http://ex.org/Agent", Entailment.SubClassOf,
          "http://ex.org/Thing", null, null, null, "schema", -1)).toDS()
      val g = persistedGraph(s, "orgrules|" + dir)(
        Entailment.owlEntail(
          ExtractPipeline.canonicalize(
            ExtractPipeline.extract(graft.spark.Transcripts.orgChart(s, dir)))
            .unionByName(schema)))
      g.df.filter(col("pred") === "http://ex.org/manages" ||
          (col("pred") === RdfType &&
            col("obj_iri").isin("http://ex.org/Agent", "http://ex.org/Thing")))
        .select(col("subj").as("s"), col("pred").as("p"), col("obj_iri").as("o"))
        .orderBy(col("s"), col("p"), col("o"))
    }),

    "kg_link_components" -> ((s, dir) => {
      val triples = ExtractPipeline.extract(graft.spark.Transcripts.mentions(s, dir))
      graft.spark.EntityLink.mentionMapping(triples, Seq("http://schema.org/contact"))
        .groupBy(col("canonical")).agg(count(lit(1)).as("component_size"))
        .groupBy(col("component_size")).agg(count(lit(1)).as("n_components"))
        .orderBy(col("component_size"))
    }),

    // END-TO-END gate: extraction (content-addressed skolems) → blocking →
    // connected components → canonical-min rewrite, checked against an
    // oracle that recomputes the skolem IDs INDEPENDENTLY via sha256 and
    // replays the merge arithmetic — nothing engine-specific survives
    "kg_canonical_contacts" -> ((s, dir) => {
      // materialized once: canonicalize consumes its input in ~5 passes
      // (blocking edges + both rewrite join sides, each side twice), and
      // an un-checkpointed input would re-run the HTML extraction per pass
      val triples = ExtractPipeline.extract(Transcripts.mentions(s, dir)).localCheckpoint()
      graft.spark.EntityLink.canonicalize(triples, Seq("http://schema.org/contact"))
        .filter(col("pred") === "http://schema.org/contact")
        .select(col("subj"), col("obj_lexical").as("contact"))
        .orderBy(col("subj"), col("contact"))
    }),

    "kg_entity_stats" -> ((s, dir) =>
      graft.spark.EntityStats.bySubject(customerTriples(s, dir))
        .orderBy(col("subj"))),

    "kg_turn_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      Transcripts.customers(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          md5(col("text")).as("text_md5"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    "kg_lineage" -> ((s, dir) =>
      ExtractPipeline.extract(Transcripts.customers(s, dir))
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_triples"))
        .orderBy(col("conv_id"))),

    // ---- classic relational (joins / aggregation) ----
    // DECIMAL stays internal (exact math); the FINAL projection is the
    // decimal's lexical form (string) — decimal→string is exact and
    // engine-portable, where decimal parquet encodings hash differently
    // between engines (round-1 driver hash_match failure).
    "q1_pricing" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("decimal(18,2)").as("d_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("decimal(18,2)").as("d_base"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("decimal(18,4)").as("d_disc_price"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("d_qty").cast("string").as("sum_qty"),
          col("d_base").cast("string").as("sum_base"),
          col("d_disc_price").cast("string").as("sum_disc_price"),
          col("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "q3_top_orders" -> ((s, dir) => {
      val c = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
          .cast("decimal(18,4)").as("d_revenue"))
        .orderBy(col("d_revenue").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("d_revenue").cast("string").as("revenue"))
    }),

    "events_hourly" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
        .orderBy(col("hour"), col("event_type"))),

    // ---- training-data pipeline: text analysis ----
    "doc_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(table(s, dir, "documents"))
        .select(col("doc_id"), col("chars").cast("long").as("chars"),
          col("tokens").cast("long").as("tokens"),
          col("distinct_tokens").cast("long").as("distinct_tokens"),
          col("bpe_ish_tokens").cast("long").as("bpe_ish_tokens"))
        .orderBy(col("doc_id"))),

    "events_sessions" -> ((s, dir) => {
      // sessionization: a user's events split on >30-minute inactivity gaps
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("double") -
              col("prev_ts").cast("timestamp").cast("double") > 1800.0, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    "doc_quality" -> ((s, dir) =>
      TextOps.qualityScore(table(s, dir, "documents")).orderBy(col("doc_id"))),

    "doc_langid" -> ((s, dir) =>
      TextOps.langId(table(s, dir, "documents"))
        .select(col("doc_id"), col("lang_guess"), col("lang_score").cast("long").as("lang_score"))
        .orderBy(col("doc_id"))),

    "doc_exact_dups" -> ((s, dir) =>
      TextOps.exactDupGroups(table(s, dir, "documents"))
        .orderBy(col("text_md5"))),

    // custom bounded TypedImperativeAggregate: per-language top-3 docs by
    // quality score with O(k) reducer memory (a collect_list+sort would
    // buffer whole groups)
    "doc_top_quality" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val q = TextOps.qualityScore(docs).select(col("doc_id"), col("token_density"))
      val l = TextOps.langId(docs).select(col("doc_id"), col("lang_guess"))
      q.join(l, "doc_id")
        .groupBy(col("lang_guess"))
        .agg(graft.functions.TopKByScore(
          col("token_density"), col("doc_id").cast("string"), 3).as("top"))
        .select(col("lang_guess"), posexplode(col("top")))
        .select(col("lang_guess"), (col("pos") + 1).cast("long").as("rank"),
          col("col.payload").as("doc_id"), col("col.score").as("token_density"))
        .orderBy(col("lang_guess"), col("rank"))
    }),

    "doc_jaccard_pairs" -> ((s, dir) =>
      TextOps.jaccardPairs(table(s, dir, "documents"), k = 3, threshold = 0.3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // text near-dup DEDUP decision: minhash pairs → CC → keep-min
    "doc_dedup_groups" -> ((s, dir) =>
      TextOps.nearDupGroups(table(s, dir, "documents"), k = 3,
          numHashes = 32, bands = 16, threshold = 0.3)
        .orderBy(col("doc_id"))),

    // data-mixture weighting: temperature-flattened (α=1/2) per-source
    // sampling rates toward a token budget, epochs-capped — exact integer
    // (isqrt + ppm DIV) arithmetic so the oracle hash-matches bit-for-bit;
    // the cap value is chosen to BIND for some sources and not others at
    // this scale, so both branches of the least() are exercised
    // asc_nulls_last: Spark's default ASC sorts NULLS FIRST but DuckDB's
    // sorts NULLS LAST — a null source group would order differently
    "doc_source_mixture" -> ((s, dir) =>
      TextOps.sourceMixture(table(s, dir, "documents"),
          targetTokens = 200000L, maxRatePpm = 1300000L)
        .orderBy(asc_nulls_last("source"))),

    // sequence packing: concat-then-chunk corpus serialization into
    // 512-token training sequences — exact integer prefix sums over the
    // total doc_id order, so the packing layout is a pure function of the
    // corpus and the oracle replays it with a window cumsum
    "doc_pack_seqs" -> ((s, dir) =>
      TextOps.packSequences(table(s, dir, "documents"), seqTokens = 512)
        .orderBy(col("doc_id"))),

    "kg_ntriples" -> ((s, dir) =>
      ExtractPipeline.toNTriples(customerTriples(s, dir)).orderBy(col("value"))),

    // BGP query over the PERSISTED extracted KG (consumer-side Queryable
    // role): persons with their name and their nation's name — a 4-pattern
    // connected join solved declaratively against the writeGraph parquet
    // layout: constant preds push to the scan AND prune pred_bucket
    // partitions, join order is selectivity-greedy from the one-pass pred
    // stats (the 2-constant rdf:type pattern seeds the join), cartesian
    // refused by construction
    "kg_bgp_person_nation" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      graft.spark.GraphQuery.bgp(persistedCustomerGraph(s, dir), Seq(
          (V("c"), C(RdfType), C("http://schema.org/Person")),
          (V("c"), C("http://schema.org/name"), V("name")),
          (V("c"), C("http://schema.org/nation"), V("nat")),
          (V("nat"), C("http://schema.org/name"), V("nat_name"))))
        .orderBy(col("c"))
    }),

    // BGP lookup by a LITERAL object constant: the pushable
    // Or(EqualTo(obj_iri), And(IsNull(obj_iri), EqualTo(obj_lexical)))
    // form reaches the parquet scan of the persisted graph, and the
    // maximally selective literal pattern seeds the selectivity-greedy
    // join (members of one named nation)
    "kg_bgp_nation_lookup" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      graft.spark.GraphQuery.bgp(persistedCustomerGraph(s, dir), Seq(
          (V("nat"), C("http://schema.org/name"), C("NATION_7")),
          (V("c"), C("http://schema.org/nation"), V("nat")),
          (V("c"), C("http://schema.org/name"), V("name"))))
        .orderBy(col("c"))
    }),

    // subject-STAR BGP over the SUBJECT-BUCKETED catalog table (the
    // entity-assembly layout): all three patterns share ?c, each compiles
    // to a bucketed scan reporting HashPartitioning(subj), and the alias-
    // aware projection carries that distribution into the binding columns —
    // so the whole query plans with ZERO Exchange (spec-asserted in
    // GraphQuerySpec; at 100 TB the star join is shuffle-free no matter how
    // large the graph, because the distribution was bought once at write
    // time)
    "kg_bgp_person_star" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      graft.spark.GraphQuery.bgp(bucketedCustomerGraph(s, dir), Seq(
          (V("c"), C(RdfType), C("http://schema.org/Person")),
          (V("c"), C("http://schema.org/name"), V("name")),
          (V("c"), C("http://schema.org/nation"), V("nat"))))
        .orderBy(col("c"))
    }),

    // FULL north-star chain in one gate: extract → canonicalize → entail
    // (2-hop derived predicate) → persist (pred_bucket layout + stats
    // metadata) → BGP over the persisted, ENTAILED graph — the query
    // matches only the derived `title` predicate, so every stage upstream
    // must be right for a single row to hash-match the oracle
    "kg_bgp_entailed" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      import s.implicits._
      val g = persistedGraph(s, dir + "#entailed") {
        val edges = Seq(
          Triple("http://schema.org/name", Entailment.SubPropertyOf,
            "http://ex.org/label", null, null, null, "schema", -1),
          Triple("http://ex.org/label", Entailment.EquivalentProperty,
            "http://ex.org/title", null, null, null, "schema", -1)).toDS()
        Entailment.owlEntail(customerTriples(s, dir).unionByName(edges))
      }
      graft.spark.GraphQuery.bgp(g, Seq(
          (V("c"), C(RdfType), C("http://schema.org/Person")),
          (V("c"), C("http://ex.org/title"), V("title")),
          (V("c"), C("http://schema.org/nation"), V("nat"))))
        .orderBy(col("c"), col("title"))
    }),

    // transitive property path (pred+) over a persisted graph whose
    // reportsTo edges form a binary tree over the custkeys (depth log2 N):
    // extraction plus GraphQuery.pathPlus's semi-naive fixpoint, against a
    // DuckDB recursive-CTE oracle
    "kg_path_reachable" -> ((s, dir) => {
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.pathPlus(g, "http://schema.org/reportsTo")
        .select(col("s").as("emp"), col("o").as("mgr"))
        .orderBy(col("emp"), col("mgr"))
    }),

    // INCREMENTAL entity linking end-to-end: the mention corpus splits by
    // turn — turns 1-2 build the standing link state, turns 3-4 arrive as
    // the crawl batch through mentionLinkStateIncremental (shared contact
    // keys bridge the batches), and the full corpus rewrites through the
    // updated state's mapping. Canonical ids are min skolems across ALL
    // four mentions, so the oracle (independent sha256 derivation) only
    // matches if the cross-batch merges actually happened
    "kg_link_incr" -> ((s, dir) => {
      val contact = Seq("http://schema.org/contact")
      val all = ExtractPipeline.extract(Transcripts.mentions(s, dir)).localCheckpoint()
      import s.implicits._
      val standing = all.filter(col("turn_idx") <= 2).as[Triple]
      val delta = all.filter(col("turn_idx") >= 3).as[Triple]
      val state = graft.spark.EntityLink.mentionLinkStateIncremental(
        graft.spark.EntityLink.mentionLinkState(standing, contact), delta, contact)
      graft.spark.EntityLink.rewriteWithMapping(all,
          graft.spark.EntityLink.mappingFromState(state).localCheckpoint())
        .filter(col("pred") === contact.head)
        .select(col("subj"), col("obj_lexical").as("contact"))
        .orderBy(col("subj"), col("contact"))
    }),

    // the NIGHTLY-CRAWL composition end-to-end THROUGH DISK: two mention
    // deltas fold into a standing root (novel-append raw graph + versioned
    // link state via IncrementalGraph/LinkStateStore — the IncrementalMain
    // path), then the canonical view reads back raw graph ∘ persisted
    // mapping. Same oracle derivation as kg_link_incr, so the gate passes
    // only if the cross-batch merges survive the store round-trip
    "kg_crawl_incr" -> ((s, dir) => {
      graft.spark.IncrementalGraph.readCanonical(s, crawlRoot(s, dir))
        .filter(col("pred") === "http://schema.org/contact")
        .select(col("subj"), col("obj_lexical").as("contact"))
        .orderBy(col("subj"), col("contact"))
    }),

    // INCREMENTAL component maintenance: the org tree's reportsTo edges
    // split even/odd — CC over the even half leaves a forest of fragments,
    // then ConnectedComponents.incremental merges in the odd half through
    // the quotient graph; the result must be ONE component rooted at the
    // min IRI with every employee in it (from-scratch shape, reached
    // incrementally)
    "kg_cc_incr" -> ((s, dir) => {
      val g = persistedOrgGraph(s, dir)
      val edges = g.df
        .filter(g.predSlice(Seq("http://schema.org/reportsTo")) && col("obj_iri").isNotNull)
        .select(col("subj").as("src"), col("obj_iri").as("dst"))
      val srcKey = substring_index(col("src"), "/", -1).cast("long")
      val labels = graft.spark.ConnectedComponents.run(edges.filter(srcKey % 2 === 0))
      graft.spark.ConnectedComponents.incremental(labels, edges.filter(srcKey % 2 === 1))
        .groupBy(col("component")).agg(count(lit(1)).as("component_size"))
        .orderBy(col("component"))
    }),

    // INCREMENTAL transitive closure: the reportsTo edges split into a
    // standing half (even employees, closed first with closePairs) and a
    // delta half (odd employees); pathPlusIncremental must produce the
    // closure of the WHOLE tree — same recursive-CTE oracle as
    // kg_path_reachable, so incremental == from-scratch is checked
    // independently of our own closure code
    "kg_path_incr" -> ((s, dir) => {
      val g = persistedOrgGraph(s, dir)
      val edges = g.df
        .filter(g.predSlice(Seq("http://schema.org/reportsTo")) && col("obj_iri").isNotNull)
        .select(col("subj").as("s"), col("obj_iri").as("o"))
      val srcKey = substring_index(col("s"), "/", -1).cast("long")
      val closed = graft.spark.GraphQuery.closePairs(edges.filter(srcKey % 2 === 0))
      graft.spark.GraphQuery.pathPlusIncremental(closed, edges.filter(srcKey % 2 === 1))
        .select(col("s").as("emp"), col("o").as("mgr"))
        .orderBy(col("emp"), col("mgr"))
    }),

    // property-path SEQUENCE with a closure inside (reportsTo+/name): the
    // names of every transitive manager per employee — Plus's semi-naive
    // fixpoint feeding a hop join into the literal-terminal name step,
    // against the recursive-CTE-plus-name-join oracle
    "kg_path_mgr_names" -> ((s, dir) => {
      import graft.spark.GraphQuery.Path
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.evalPath(g,
          Path.Chain(Seq(Path.Plus(Path.P("http://schema.org/reportsTo")),
            Path.P("http://schema.org/name"))))
        .select(col("s").as("emp"), col("o").as("mgr_name"))
        .orderBy(col("emp"), col("mgr_name"))
    }),

    // zero-or-more path with a BOUND source (emp/13 reportsTo* ?anc): the
    // closure explores only the reachable cone — 13→6→3→1 — plus the
    // zero-length self pair; at 100 TB this never materializes the full
    // closure, only one root-to-leaf chain
    "kg_path_star_bound" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V, Path}
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.bgp(g,
          Seq((C("http://ex.org/emp/13"),
            Path.Star(Path.P("http://schema.org/reportsTo")), V("anc"))))
        .orderBy(col("anc"))
    }),

    // inverse step inside a sequence, joined with a triple pattern
    // (reportsTo/^reportsTo = colleagues sharing a manager, self included):
    // the path frame and the name pattern meet in the selectivity-greedy
    // join on ?e
    "kg_path_peers" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V, Path}
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.bgp(g, Seq(
          (V("e"), C("http://schema.org/name"), V("en")),
          (V("e"), Path.Chain(Seq(Path.P("http://schema.org/reportsTo"),
            Path.Inv(Path.P("http://schema.org/reportsTo")))), V("peer"))))
        .orderBy(col("e"), col("peer"))
    }),

    // OPTIONAL group over the org graph: every employee binds name; the
    // root (custkey 1) has no reportsTo, so its mgr surfaces as NULL
    // instead of dropping the row — left-join semantics end to end
    "kg_bgp_optional" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.bgpOptional(g,
          required = Seq(
            (V("e"), C(RdfType), C("http://schema.org/Person")),
            (V("e"), C("http://schema.org/name"), V("n"))),
          optionals = Seq(Seq(
            (V("e"), C("http://schema.org/reportsTo"), V("m")))))
        .orderBy(col("e"))
    }),

    // DESCRIBE the members of one named nation: the selector BGP prunes to
    // the two constant-pred slices, the selected entity set broadcasts into
    // a subj semi-join, and FULL triples (typed literals, IRIs, language
    // tags — coalesced to one term column for the gate) come back
    "kg_describe" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      graft.spark.GraphQuery.describe(persistedCustomerGraph(s, dir),
          Seq((V("nat"), C("http://schema.org/name"), C("NATION_7")),
              (V("c"), C("http://schema.org/nation"), V("nat"))),
          entityVar = "c")
        .select(col("subj").as("s"), col("pred").as("p"),
          coalesce(col("obj_iri"), col("obj_lexical")).as("o"))
        .orderBy(col("s"), col("p"), col("o"))
    }),

    // aggregation over BGP bindings (the SPARQL GROUP BY / COUNT analog):
    // bindings are a DataFrame, so aggregates COMPOSE — no bespoke
    // operator, and the partial-agg/shuffle shape is Catalyst's own
    "kg_bgp_agg" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      graft.spark.GraphQuery.bgp(persistedCustomerGraph(s, dir), Seq(
          (V("c"), C(RdfType), C("http://schema.org/Person")),
          (V("c"), C("http://schema.org/nation"), V("nat"))))
        .groupBy(col("nat")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("nat"))
    }),

    // prp-trp through the FULL entailment surface: reportsTo declared an
    // owl:TransitiveProperty, so the closure contains every (emp,
    // ancestor) pair — the entailment-side twin of kg_path_reachable's
    // explicit path query, checked against the same recursive-CTE oracle
    "kg_entail_trans" -> ((s, dir) => {
      import s.implicits._
      val schema = Seq(
        Triple("http://schema.org/reportsTo", Entailment.RdfType,
          Entailment.TransitiveProperty, null, null, null, "schema", -1)).toDS()
      val g = Entailment.owlEntail(
        ExtractPipeline.canonicalize(
          ExtractPipeline.extract(graft.spark.Transcripts.orgChart(s, dir)))
          .unionByName(schema))
      g.filter(col("pred") === "http://schema.org/reportsTo" &&
          col("obj_iri").isNotNull)
        .select(col("subj").as("emp"), col("obj_iri").as("anc"))
        .orderBy(col("emp"), col("anc"))
    }),

    // snapshot DIFF between two extractions of the customer KG (old lacks
    // acctbal, new lacks segment): the incremental-maintenance primitive —
    // '+' rows are acctbal facts, '-' rows are segment facts, the
    // unchanged bulk never surfaces
    "kg_graph_diff" -> ((s, dir) => {
      // materialized once: graphDiff consumes each filtered side twice
      // (dedup + the opposite side's anti-join), which would otherwise
      // re-run the extraction four times
      val all = customerTriples(s, dir).localCheckpoint()
      ExtractPipeline.graphDiff(
          all.filter(col("pred") =!= "http://schema.org/acctbal"),
          all.filter(col("pred") =!= "http://schema.org/segment"))
        .select(col("change"), col("subj").as("s"), col("pred").as("p"),
          coalesce(col("obj_iri"), col("obj_lexical")).as("o"))
        .orderBy(col("change"), col("s"), col("p"), col("o"))
    }),

    // ASK (satisfied + unsatisfiable) over the customer graph: the
    // satisfied probe short-circuits via CollectLimit; the absent
    // predicate estimates 0 rows and empties immediately
    "kg_ask" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.GraphQuery.{C, V}
      val g = persistedCustomerGraph(s, dir)
      Seq(
        ("person_exists", graft.spark.GraphQuery.ask(g, Seq(
          (V("x"), C(RdfType), C("http://schema.org/Person")),
          (V("x"), C("http://schema.org/name"), V("n"))))),
        ("unicorn_exists", graft.spark.GraphQuery.ask(g, Seq(
          (V("x"), C("http://ex.org/unicorn"), V("y"))))))
        .toDF("q", "ask").orderBy(col("q"))
    }),

    // CONSTRUCT over the org graph: template-derive the manages edge plus
    // a Manager typing for every boss — rule application WITHOUT the
    // entailment fixpoint, set semantics (a boss with two reports types
    // once)
    "kg_construct" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.construct(g,
          patterns = Seq((V("e"), C("http://schema.org/reportsTo"), V("m"))),
          template = Seq(
            (V("m"), C("http://ex.org/manages"), V("e")),
            (V("m"), C(RdfType), C("http://ex.org/Manager"))))
        .orderBy(col("subj"), col("pred"), col("obj"))
    }),

    // MINUS over the org graph: employees nobody reports to — the leaves
    // of the binary reporting tree (half the company). The minus group's
    // anti-join runs on the shared ?e binding; SPARQL's disjoint-domain
    // no-op rule is spec-covered
    "kg_bgp_minus" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphQuery.bgpMinus(g,
          required = Seq(
            (V("e"), C(RdfType), C("http://schema.org/Person")),
            (V("e"), C("http://schema.org/name"), V("n"))),
          minusGroups = Seq(Seq(
            (V("x"), C("http://schema.org/reportsTo"), V("e")))))
        .orderBy(col("e"))
    }),

    // UNION of two typed-entity branches over the customer graph: persons
    // and countries each solve as their own pruned/pushed BGP; the union
    // itself is metadata-only, the set-semantics distinct is the one added
    // shuffle
    "kg_bgp_union" -> ((s, dir) => {
      import graft.spark.GraphQuery.{C, V}
      graft.spark.GraphQuery.bgpUnion(persistedCustomerGraph(s, dir), Seq(
          Seq((V("x"), C(RdfType), C("http://schema.org/Person")),
              (V("x"), C("http://schema.org/name"), V("v"))),
          Seq((V("x"), C(RdfType), C("http://schema.org/Country")),
              (V("x"), C("http://schema.org/name"), V("v")))))
        .orderBy(col("x"), col("v"))
    }),

    // entity importance over the same org graph: fixed-point integer
    // PageRank (5 power iterations) — deterministic under any
    // partitioning, replayed by the oracle with identical arithmetic
    "kg_pagerank" -> ((s, dir) => {
      val g = persistedOrgGraph(s, dir)
      graft.spark.GraphRank.pagerank(g, Some("http://schema.org/reportsTo"), iters = 5)
        .orderBy(col("node"))
    }),

    // probabilistic ops on engine-portable hashes (PortableHash) — every
    // one oracle-checked bit-for-bit since round 2
    "doc_minhash_pairs" -> ((s, dir) =>
      TextOps.minhashLshPairs(table(s, dir, "documents"), k = 3,
          numHashes = 32, bands = 16, threshold = 0.3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // cross-snapshot incremental dedup: the odd-doc_id half is "today's
    // crawl batch", deduped against the even half as the existing corpus
    "doc_cross_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.crossDedup(
          existing = docs.filter(col("doc_id") % 2 === 0),
          incoming = docs.filter(col("doc_id") % 2 === 1),
          k = 3, numHashes = 32, bands = 16, threshold = 0.3)
        .orderBy(col("doc_new"), col("doc_old"))
    }),

    "doc_simhash" -> ((s, dir) =>
      TextOps.simhash(table(s, dir, "documents")).orderBy(col("doc_id"))),

    "doc_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(table(s, dir, "documents")).orderBy(col("doc_id"))),

    // SimHash near-dup pairs: pigeonhole-banded equi-join + exact popcount
    "doc_simhash_pairs" -> ((s, dir) =>
      TextOps.simhashPairs(table(s, dir, "documents"), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // exact-substring (span-level) duplication ratio per document
    "doc_substring_dups" -> ((s, dir) =>
      TextOps.substringDupStats(table(s, dir, "documents"), windowTokens = 5)
        .orderBy(col("doc_id"))),

    // benchmark decontamination: corpus docs sharing a 5-gram with the
    // deterministic benchmark slice (doc_id ≡ 0 mod 29); benchmark grams
    // broadcast, corpus streams map-side
    "doc_decontam" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.decontaminate(
          docs.filter(pmod(col("doc_id"), lit(29)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(29)) === 0), windowTokens = 5)
        .select(col("doc_id"), col("n_hits"),
          col("contaminated").cast("long").as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // deterministic hash-based train/val/test split (stable under growth)
    "doc_split" -> ((s, dir) =>
      TextOps.hashSplit(table(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // PII redaction over a deterministically PII-augmented text column
    // (the raw corpus carries no PII; the augmentation is replayed by the
    // oracle, so mask+count semantics are still checked end to end)
    "doc_pii_scrub" -> ((s, dir) => {
      val withPii = table(s, dir, "documents").withColumn("pii_text",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      TextOps.scrubPii(withPii, "pii_text")
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // corpus-level top-100 bigrams (global n-gram statistics table)
    "doc_ngram_top" -> ((s, dir) =>
      TextOps.ngramTopK(table(s, dir, "documents"), n = 2, k = 100)),

    // Gopher-style repetition filters: top-2-gram character coverage +
    // duplicate-5-gram window fraction, with keep thresholds
    "doc_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(table(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // one BPE merge round's pair counts (tokenizer induction): corpus
    // top-100 adjacent character pairs inside whitespace tokens
    "doc_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(table(s, dir, "documents"), k = 100)),

    // BPE APPLICATION with a learned merge list (list-order semantics,
    // composition exercised: 'tab'+'le' only exists after 't'+'a', 'ta'+'b'
    // and 'l'+'e' fire). The oracle SQL is GENERATED from the same list —
    // one source of truth for operator and oracle.
    "doc_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(table(s, dir, "documents"), BpeMerges)
        .orderBy(col("doc_id"))),

    // deterministic stratified sampling: per-stratum hash-gated keep rates
    "doc_sample_strata" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val sampled = TextOps.stratifiedSample(docs, "source",
        Map("src0" -> 500, "src1" -> 100), defaultPerMille = 200)
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
        .join(sampled.groupBy(col("source")).agg(count(lit(1)).as("n_sampled")),
          Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("source"))
    }),

    // Gopher-style per-document quality rule filters
    "doc_quality_filters" -> ((s, dir) =>
      TextOps.qualityFilters(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("stop_ratio"), col("distinct_ratio"),
          col("ok_words").cast("long").as("ok_words"),
          col("ok_len").cast("long").as("ok_len"),
          col("ok_stop").cast("long").as("ok_stop"),
          col("ok_rep").cast("long").as("ok_rep"),
          col("keep").cast("long").as("keep"))
        .orderBy(col("doc_id"))),

    // unigram corpus-rarity score (integer surprisal proxy — engine-exact)
    "doc_rarity" -> ((s, dir) =>
      TextOps.unigramRarity(table(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // fixed-window token chunking with stride (pretraining sample prep)
    "doc_chunks" -> ((s, dir) =>
      TextOps.chunk(table(s, dir, "documents"), chunkTokens = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // capstone composition: the final training-set selection =
    // train split ∧ quality rules ∧ not contaminated (benchmark slice
    // itself excluded) ∧ not a dropped near-duplicate. Exactly the chain a
    // production corpus build runs; every stage is itself oracle-gated
    // above, and the composed keep-list is oracle-checked here end to end.
    "doc_train_set" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val train = TextOps.hashSplit(docs)
        .filter(col("split") === "train").select(col("doc_id"))
      val quality = TextOps.qualityFilters(docs)
        .filter(col("keep")).select(col("doc_id"))
      val clean = TextOps.decontaminate(
          docs.filter(pmod(col("doc_id"), lit(29)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(29)) === 0), windowTokens = 5)
        .filter(!col("contaminated")).select(col("doc_id"))
      val dupDrops = TextOps.nearDupGroups(docs, k = 3,
          numHashes = 32, bands = 16, threshold = 0.3)
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id").cast("long").as("doc_id"))
      train.join(quality, Seq("doc_id"))
        .join(clean, Seq("doc_id"))
        .join(dupDrops, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }),

    // ---- similarity search over embeddings ----
    "sim_cosine_pairs" -> ((s, dir) =>
      VectorOps.cosinePairs(table(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("vec_a"), col("vec_b"))),

    "sim_topk" -> ((s, dir) =>
      VectorOps.topK(table(s, dir, "embeddings"), k = 5)
        .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_a"), col("rank"))),

    "sim_lsh_pairs" -> ((s, dir) =>
      VectorOps.lshBucketedPairs(table(s, dir, "embeddings"),
          nBits = 8, nTables = 4, threshold = 0.3)
        .orderBy(col("vec_a"), col("vec_b"))),

    // LSH recall vs the exact blocked path, on a corpus with
    // deterministically planted near-duplicates (the raw embeddings table
    // is isotropic noise — no near-dup structure to recall)
    "sim_lsh_recall" -> ((s, dir) =>
      VectorOps.lshRecall(table(s, dir, "embeddings"),
        nBits = 8, nTables = 4, threshold = 0.9)),

    // IVF-style ANN: coarse-quantizer assignment (m=256 > the literal-fold
    // ceiling → BroadcastHashJoin model-scoring path) + cell equi-join
    "sim_ivf_topk" -> ((s, dir) =>
      VectorOps.ivfTopK(table(s, dir, "embeddings"), m = 256, nProbe = 2, k = 5)
        .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_a"), col("rank"))),

    // two-level IVF (m1 x m2 = 1024 cells — the design past the broadcast
    // ceiling): level-1 model is the only broadcast/literal state; level-2
    // sub-quantizers are a DATA-sized table reached by equi-join on the
    // coarse cell, never collected
    "sim_ivf_twolevel" -> ((s, dir) =>
      VectorOps.ivfTwoLevelTopK(table(s, dir, "embeddings"), m1 = 64, m2 = 16,
          nProbe1 = 4, nProbe2 = 2, k = 5)
        .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_a"), col("rank"))),

    // deterministic k-means IVF trainer: cosine Lloyd iterations whose
    // centroid updates accumulate FIXED-POINT longs (exact, commutative →
    // partition-order independent), so the trained model and the final
    // assignment replay bit-for-bit in the DuckDB oracle
    "sim_kmeans_assign" -> ((s, dir) =>
      VectorOps.kmeansAssignment(table(s, dir, "embeddings"), m = 8, iters = 2)
        .orderBy(col("vec_id"))),

    // the trained quantizer feeding IVF end-to-end: train → index under
    // nearest trained cell → probe 2 cells → exact-cosine rank
    "sim_ivf_kmeans" -> ((s, dir) =>
      VectorOps.ivfTopKTrained(table(s, dir, "embeddings"), m = 8, iters = 2,
          nProbe = 2, k = 5)
        .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_a"), col("rank"))),

    // trained coarse quantizer + per-cell sub-quantizer: the full
    // deployment shape (kmeans level 1 = the only model state; level 2 a
    // data-sized equi-joined table), still bit-for-bit oracle-replayed
    "sim_ivf_twolevel_kmeans" -> ((s, dir) =>
      VectorOps.ivfTwoLevelTopKTrained(table(s, dir, "embeddings"), m1 = 8,
          iters = 2, m2 = 8, nProbe1 = 2, nProbe2 = 2, k = 5)
        .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_a"), col("rank"))),

    // embedding-cosine near-dup DEDUP decision over the planted corpus:
    // LSH candidates → exact verify → connected components → keep-min
    "sim_near_dup_groups" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpus = e.select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
        .unionByName(VectorOps.perturbed(e, eps = 0.05, seed = 999983, idSuffix = "_p"))
      VectorOps.nearDupGroups(corpus, nBits = 8, nTables = 4, threshold = 0.9)
        .orderBy(col("vec_id"))
    }),

    // multimodal plumbing: binary payload column → decoded metadata; the
    // oracle reconstructs the expected header fields arithmetically, so the
    // byte-level decode path is gated end-to-end
    "mm_media_meta" -> ((s, _) =>
      graft.ops.MultimodalOps.decodeMeta(graft.ops.MultimodalOps.syntheticMedia(s, 500)).toDF()
        .select(col("media_id"), col("kind"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("duration_ms").cast("long").as("duration_ms"),
          col("byte_len").cast("long").as("byte_len"))
        .orderBy(col("media_id"))),

    // multimodal featurize → vector near-dup DEDUP chain, end to end: the
    // portable byte-fold features of the synthetic media (∪ planted
    // perturbed copies) go through LSH → exact-cosine verify → connected
    // components; the oracle recomputes the features from the payload
    // ARITHMETIC (id → header/body bytes → fold) and replays the chain
    "mm_feature_dups" -> ((s, _) => {
      val feats = graft.ops.MultimodalOps.featurize(
          graft.ops.MultimodalOps.syntheticMedia(s, 500)).toDF()
        .select(col("media_id").cast("string").as("vec_id"), col("feature").as("embedding"))
      val corpus = feats.unionByName(
        VectorOps.perturbed(feats, eps = 0.05, seed = 999983, idSuffix = "_p"))
      VectorOps.nearDupGroups(corpus, nBits = 8, nTables = 4, threshold = 0.9)
        .orderBy(col("vec_id"))
    }))

  /** DuckDB-runnable expected results — one per query (since round 2 the
    * probabilistic ops run on PortableHash arithmetic, so their oracles
    * reproduce the hashes bit-for-bit; several oracle bodies below are
    * machine-generated from the same constants the Spark expressions use).
    */
  /** Shared oracle CTE chain reproducing the MinHash+LSH candidate/verify
    * pipeline (k=3, 32 hashes, 16 bands, df cap 1000): ends at `j`
    * (doc_a, doc_b, jaccard). Built from the same PortableHash constants
    * the Spark expressions use.
    */
  /** One corpus side of the MinHash chain (k=3, 32 hashes, 16 bands, df
    * cap 1000), CTE names suffixed so two sides compose in one query:
    * `toks$sfx … banded$sfx(doc_id, band, bsig)` over `documents $where`.
    */
  private def minhashSideCtes(sfx: String, where: String): String = {
    import graft.ops.PortableHash._
    val numHashes = 32; val bands = 16; val rows = numHashes / bands
    val mins = (0 until numHashes)
      .map(i => s"MIN(${permutedSql("h0", i)}) AS h$i").mkString(", ")
    val banded = (0 until bands).map { b =>
      val fold = bandFoldSql((b * rows until (b + 1) * rows).map(i => s"h$i"))
      s"SELECT doc_id, $b AS band, $fold AS bsig FROM sg$sfx"
    }.mkString(" UNION ALL ")
    val from = if (where.isEmpty) "documents" else s"documents $where"
    s"""toks$sfx AS (SELECT doc_id, string_split(text, ' ') AS t FROM $from),
       |sh0$sfx AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks$sfx),
       |dfc$sfx AS (SELECT shingle, COUNT(*) AS c FROM sh0$sfx GROUP BY 1),
       |sh$sfx AS (SELECT sh0$sfx.doc_id, sh0$sfx.shingle FROM sh0$sfx JOIN dfc$sfx USING (shingle) WHERE dfc$sfx.c <= 1000),
       |h0t$sfx AS (SELECT doc_id, shingle, ${tokenHash31Sql("shingle")} AS h0 FROM sh$sfx),
       |sg$sfx AS (SELECT doc_id, $mins FROM h0t$sfx GROUP BY doc_id),
       |banded$sfx AS ($banded)""".stripMargin
  }

  private def minhashCtes: String =
    s"""${minhashSideCtes("", "")},
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM banded x JOIN banded y ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i FROM cand c
       |          JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |          GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
       |      FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b)""".stripMargin

  /** Fixed-point PageRank replay over the org reportsTo tree: the same
    * integer micro-unit arithmetic as GraphRank.pagerank (per-edge `//`
    * before the sum), unrolled to `iters` chained CTEs.
    */
  private def pagerankCtes(iters: Int): String = {
    import graft.spark.GraphRank.{DampPpm, UnitMicros}
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, SUM((r.r * $DampPpm) // (d.outdeg * $UnitMicros)) AS s
         |  FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
         |r$i AS (SELECT n.node, CAST(${UnitMicros - DampPpm} + COALESCE(c.s, 0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS src,
       |       'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) AS dst
       |  FROM customer WHERE c_custkey > 1),
       |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST($UnitMicros AS BIGINT) AS r FROM nodes),
       |$steps""".stripMargin
  }

  /** Cross-snapshot replay: per-side chains (each with its OWN df cap,
    * mirroring TextOps.crossDedup's write-once-artifact semantics), then
    * the cross band join and exact verify.
    */
  private def crossDedupCtes: String =
    s"""${minhashSideCtes("_o", "WHERE doc_id % 2 = 0")},
       |${minhashSideCtes("_n", "WHERE doc_id % 2 = 1")},
       |candx AS (SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       |          FROM banded_n n JOIN banded_o o ON n.band = o.band AND n.bsig = o.bsig),
       |sizes_o AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh_o GROUP BY 1),
       |sizes_n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh_n GROUP BY 1),
       |interx AS (SELECT c.doc_new, c.doc_old, COUNT(*) AS i FROM candx c
       |           JOIN sh_n a ON a.doc_id = c.doc_new JOIN sh_o b ON b.doc_id = c.doc_old AND b.shingle = a.shingle
       |           GROUP BY 1, 2),
       |jx AS (SELECT doc_new, doc_old, ROUND(CAST(i AS DOUBLE) / (sn.n_sh + so.n_sh - i), 4) AS jaccard
       |       FROM interx JOIN sizes_n sn ON sn.doc_id = doc_new JOIN sizes_o so ON so.doc_id = doc_old)""".stripMargin

  /** nProbe-nearest-cell assignment CTE (shared by the k-means oracles). */
  /** Degenerate-cosine guard mirroring VectorOps.safeCos: DuckDB division
    * by zero yields NULL (measured — not NaN/inf), so COALESCE to the same
    * −2 sentinel Spark's try_divide path uses pins a zero-norm (dead) cell
    * below every real cosine in both engines.
    */
  private def safeCosSql(num: String, den: String): String =
    s"COALESCE($num / ($den), -2.0)"

  private def kmAssignCte(name: String, cdef: String, nProbe: Int): String =
    s"""$name AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${safeCosSql("list_dot_product(e.emb, c.c_emb)", "e.nrm * c.c_nrm")} DESC, c.cell) AS rn
       |  FROM en e, $cdef c) t WHERE rn <= $nProbe)""".stripMargin

  /** CTE chain replaying the deterministic k-means trainer
    * (VectorOps.kmeansCentroids): init from the m smallest ids, then
    * `iters` Lloyd updates with fixed-point long sums. Defines en (vectors
    * + norms) and c$iters (the trained model).
    */
  private def kmeansCtes(m: Int, iters: Int): String = {
    def update(aPrev: String, cPrev: String, cNext: String) =
      s"""s_$cNext AS (
         |  SELECT a.cell, r.d, SUM(CAST(round(e.emb[r.d] * 1000000.0) AS BIGINT)) AS s, COUNT(*) AS n
         |  FROM $aPrev a JOIN en e USING (vec_id), unnest(range(1, len(e.emb)+1)) AS r(d)
         |  GROUP BY a.cell, r.d),
         |u_$cNext AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS c_emb
         |  FROM s_$cNext GROUP BY cell),
         |$cNext AS (
         |  SELECT c.cell, COALESCE(u.c_emb, c.c_emb) AS c_emb,
         |         sqrt(list_dot_product(COALESCE(u.c_emb, c.c_emb), COALESCE(u.c_emb, c.c_emb))) AS c_nrm
         |  FROM $cPrev c LEFT JOIN u_$cNext u USING (cell))""".stripMargin
    val steps = (0 until iters).map(i =>
      kmAssignCte(s"a$i", s"c$i", 1) + ",\n" + update(s"a$i", s"c$i", s"c${i + 1}"))
    s"""ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |en AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM ed),
       |c0 AS (SELECT 'c' || lpad(CAST(row_number() OVER (ORDER BY vec_id) - 1 AS VARCHAR), 4, '0') AS cell,
       |              emb AS c_emb, sqrt(list_dot_product(emb, emb)) AS c_nrm
       |       FROM (SELECT vec_id, emb FROM ed ORDER BY vec_id LIMIT $m) t),
       |${steps.mkString(",\n")}""".stripMargin
  }

  /** Trainer + final assignment (VectorOps.kmeansAssignment). */
  private def kmeansOracle(m: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(m, iters)},
       |${kmAssignCte(s"a$iters", s"c$iters", 1)}
       |SELECT vec_id, cell FROM a$iters ORDER BY vec_id""".stripMargin

  /** Trainer + IVF probe/index/rank (VectorOps.ivfTopKTrained). */
  private def kmeansIvfOracle(m: Int, iters: Int, nProbe: Int, k: Int): String =
    s"""WITH ${kmeansCtes(m, iters)},
       |${kmAssignCte("qassign", s"c$iters", nProbe)},
       |${kmAssignCte("cassign", s"c$iters", 1)},
       |pairs AS (SELECT q.vec_id AS vec_a, c.vec_id AS vec_b
       |          FROM qassign q JOIN cassign c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
       |sc AS (SELECT vec_a, vec_b,
       |    list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
       |  FROM pairs JOIN en a ON a.vec_id = vec_a JOIN en b ON b.vec_id = vec_b),
       |r AS (SELECT vec_a, vec_b, cos, row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank FROM sc)
       |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim, rank FROM r WHERE rank <= $k ORDER BY vec_a, rank""".stripMargin

  /** Trained coarse quantizer + trainless per-cell sub-quantizer
    * (VectorOps.ivfTwoLevelTopKTrained): kmeans CTEs for level 1, then the
    * same two-level probe/index/rank replay as sim_ivf_twolevel.
    */
  private def kmeansTwoLevelOracle(m1: Int, iters: Int, m2: Int,
                                   nProbe1: Int, nProbe2: Int, k: Int): String =
    s"""WITH ${kmeansCtes(m1, iters)},
       |${kmAssignCte("hc", s"c$iters", 1)},
       |${kmAssignCte("qc", s"c$iters", nProbe1)},
       |subc AS (SELECT h.cell AS coarse, CAST(h.vec_id AS VARCHAR) AS sub_id, e.emb AS s_emb, e.nrm AS s_nrm
       |  FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn FROM hc) h
       |  JOIN en e ON e.vec_id = h.vec_id WHERE h.rn <= $m2),
       |ss_q AS (SELECT p.vec_id, p.cell AS coarse, s.sub_id,
       |    ${safeCosSql("list_dot_product(e.emb, s.s_emb)", "e.nrm * s.s_nrm")} AS scos
       |  FROM qc p JOIN en e ON e.vec_id = p.vec_id JOIN subc s ON s.coarse = p.cell),
       |qcells AS (SELECT vec_id, coarse || '|' || sub_id AS cell FROM
       |  (SELECT vec_id, coarse, sub_id, row_number() OVER (PARTITION BY vec_id, coarse ORDER BY scos DESC, sub_id) AS sr FROM ss_q) t WHERE sr <= $nProbe2),
       |ss_c AS (SELECT p.vec_id, p.cell AS coarse, s.sub_id,
       |    ${safeCosSql("list_dot_product(e.emb, s.s_emb)", "e.nrm * s.s_nrm")} AS scos
       |  FROM hc p JOIN en e ON e.vec_id = p.vec_id JOIN subc s ON s.coarse = p.cell),
       |ccells AS (SELECT vec_id, coarse || '|' || sub_id AS cell FROM
       |  (SELECT vec_id, coarse, sub_id, row_number() OVER (PARTITION BY vec_id, coarse ORDER BY scos DESC, sub_id) AS sr FROM ss_c) t WHERE sr <= 1),
       |pairs AS (SELECT q.vec_id AS vec_a, c.vec_id AS vec_b FROM qcells q JOIN ccells c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
       |sc AS (SELECT vec_a, vec_b, list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
       |  FROM pairs JOIN en a ON a.vec_id = vec_a JOIN en b ON b.vec_id = vec_b),
       |r AS (SELECT vec_a, vec_b, cos, row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank FROM sc)
       |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim, rank FROM r WHERE rank <= $k ORDER BY vec_a, rank""".stripMargin

  def oracleSql: Map[String, String] = {
    import graft.ops.PortableHash._
    val custMarkup =
      """printf('Here is customer %d: <div itemscope itemtype="http://schema.org/Person" itemid="http://ex.org/customer/%d" lang="en"><span itemprop="name">%s</span><data itemprop="acctbal" value="%s"/><span itemprop="segment" content="%s">segment</span><div itemprop="nation" itemscope itemtype="http://schema.org/Country" itemid="http://ex.org/nation/%d"><span itemprop="name">%s</span></div><link itemprop="additionalType" href="http://ex.org/class/Customer"></div> done.', c_custkey, c_custkey, c_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), c_mktsegment, c_nationkey, n_name)"""
    Map(
      "kg_types" ->
        """SELECT subj, obj_iri FROM (
          |  SELECT 'http://ex.org/customer/' || c_custkey AS subj, 'http://schema.org/Person' AS obj_iri FROM customer WHERE c_custkey % 7 <> 0
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey, 'http://ex.org/class/Customer' FROM customer WHERE c_custkey % 7 <> 0
          |  UNION ALL SELECT DISTINCT 'http://ex.org/nation/' || c_nationkey, 'http://schema.org/Country' FROM customer WHERE c_custkey % 7 <> 0
          |) t ORDER BY subj, obj_iri""".stripMargin,

      "kg_literals" ->
        """WITH c AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0)
          |SELECT subj, pred, obj_lexical, obj_datatype, obj_lang FROM (
          |  SELECT 'http://ex.org/customer/' || c_custkey AS subj, 'http://schema.org/name' AS pred, c_name AS obj_lexical, CAST(NULL AS VARCHAR) AS obj_datatype, 'en' AS obj_lang FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey, 'http://schema.org/segment', c_mktsegment, NULL, 'en' FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey, 'http://schema.org/acctbal', CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#double', NULL FROM c
          |  UNION ALL SELECT DISTINCT 'http://ex.org/nation/' || c_nationkey, 'http://schema.org/name', n_name, NULL, 'en' FROM c JOIN nation ON c_nationkey = n_nationkey
          |) t ORDER BY subj, pred, obj_lexical""".stripMargin,

      "kg_links" ->
        """WITH c AS (SELECT c_custkey AS k, c_nationkey AS nk FROM customer WHERE c_custkey % 7 <> 0)
          |SELECT subj, pred, obj_iri FROM (
          |  SELECT 'http://ex.org/customer/' || k AS subj, 'http://schema.org/nation' AS pred, 'http://ex.org/nation/' || nk AS obj_iri FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || k, 'http://schema.org/additionalType', 'http://ex.org/class/Customer' FROM c
          |) t ORDER BY subj, pred, obj_iri""".stripMargin,

      "kg_itemref" ->
        """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS s, strftime(o_orderdate, '%Y-%m-%d') AS d FROM orders WHERE o_orderkey % 20 = 0)
          |SELECT subj, pred, obj_iri, obj_lexical, obj_datatype FROM (
          |  SELECT 'http://ex.org/order/' || k AS subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred, 'https://schema.org/Order' AS obj_iri, CAST(NULL AS VARCHAR) AS obj_lexical, CAST(NULL AS VARCHAR) AS obj_datatype FROM o
          |  UNION ALL SELECT 'http://ex.org/invoice/' || k, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'https://schema.org/Invoice', NULL, NULL FROM o
          |  UNION ALL SELECT 'http://ex.org/order/' || k, 'https://schema.org/orderStatus', NULL, s, NULL FROM o
          |  UNION ALL SELECT 'http://ex.org/invoice/' || k, 'https://schema.org/orderStatus', NULL, s, NULL FROM o
          |  UNION ALL SELECT 'http://ex.org/order/' || k, 'https://schema.org/orderDate', NULL, d, 'http://www.w3.org/2001/XMLSchema#date' FROM o
          |  UNION ALL SELECT 'http://ex.org/invoice/' || k, 'https://schema.org/orderDate', NULL, d, 'http://www.w3.org/2001/XMLSchema#date' FROM o
          |) t ORDER BY subj, pred, obj_iri NULLS FIRST, obj_lexical NULLS FIRST""".stripMargin,

      "kg_reverse" ->
        """SELECT 'http://ex.org/offer/' || s_suppkey AS subj, 'http://schema.org/seller' AS pred, 'http://ex.org/supplier/' || s_suppkey AS obj_iri
          |FROM supplier ORDER BY subj""".stripMargin,

      "kg_entail" ->
        """WITH names AS (
          |  SELECT 'http://ex.org/customer/' || c_custkey AS subj, c_name AS obj_lexical FROM customer WHERE c_custkey % 7 <> 0
          |  UNION ALL SELECT DISTINCT 'http://ex.org/nation/' || c_nationkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey % 7 <> 0
          |)
          |SELECT subj, pred, obj_lexical FROM (
          |  SELECT subj, 'http://ex.org/label' AS pred, obj_lexical FROM names
          |  UNION ALL SELECT subj, 'http://ex.org/title', obj_lexical FROM names
          |) t ORDER BY subj, pred, obj_lexical""".stripMargin,

      // incremental == from-scratch: same expected rows as kg_entail
      "kg_entail_incr" ->
        """WITH names AS (
          |  SELECT 'http://ex.org/customer/' || c_custkey AS subj, c_name AS obj_lexical FROM customer WHERE c_custkey % 7 <> 0
          |  UNION ALL SELECT DISTINCT 'http://ex.org/nation/' || c_nationkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey % 7 <> 0
          |)
          |SELECT subj, pred, obj_lexical FROM (
          |  SELECT subj, 'http://ex.org/label' AS pred, obj_lexical FROM names
          |  UNION ALL SELECT subj, 'http://ex.org/title', obj_lexical FROM names
          |) t ORDER BY subj, pred, obj_lexical""".stripMargin,

      "kg_entail_rules" ->
        """SELECT s, p, o FROM (
          |  SELECT 'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) AS s,
          |    'http://ex.org/manages' AS p,
          |    'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS o
          |  FROM customer WHERE c_custkey > 1
          |  UNION ALL
          |  SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR),
          |    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', t.cls
          |  FROM customer
          |  CROSS JOIN (VALUES ('http://ex.org/Agent'), ('http://ex.org/Thing')) t(cls)
          |) u ORDER BY s, p, o""".stripMargin,

      "kg_link_components" ->
        """SELECT CAST(4 AS BIGINT) AS component_size, count(*) AS n_components
          |FROM customer ORDER BY component_size""".stripMargin,

      "kg_canonical_contacts" ->
        """WITH sk AS (
          |  SELECT c_custkey AS k,
          |         'did:skolem:' || substr(sha256('mconv-' || c_custkey || '#' || j || '|1'), 1, 32) AS skolem
          |  FROM customer, unnest([1, 2, 3, 4]) AS t(j)),
          |canon AS (SELECT k, MIN(skolem) AS subj FROM sk GROUP BY k)
          |SELECT subj, 'key-' || k || '-' || v AS contact
          |FROM canon, unnest([1, 2, 3, 4, 5]) AS u(v)
          |ORDER BY subj, contact""".stripMargin,

      // same derivation as kg_canonical_contacts: the canonical id is the
      // min skolem over all four mentions, reachable only if the
      // incremental state merged the turn-3/4 batch into the standing one
      // identical independent derivation for the through-disk crawl
      // composition (the canonical id is the min skolem over all four
      // mentions — reachable only if the second batch's merges survived
      // the LinkStateStore round-trip)
      "kg_crawl_incr" ->
        """WITH sk AS (
          |  SELECT c_custkey AS k,
          |         'did:skolem:' || substr(sha256('mconv-' || c_custkey || '#' || j || '|1'), 1, 32) AS skolem
          |  FROM customer, unnest([1, 2, 3, 4]) AS t(j)),
          |canon AS (SELECT k, MIN(skolem) AS subj FROM sk GROUP BY k)
          |SELECT subj, 'key-' || k || '-' || v AS contact
          |FROM canon, unnest([1, 2, 3, 4, 5]) AS u(v)
          |ORDER BY subj, contact""".stripMargin,

      "kg_link_incr" ->
        """WITH sk AS (
          |  SELECT c_custkey AS k,
          |         'did:skolem:' || substr(sha256('mconv-' || c_custkey || '#' || j || '|1'), 1, 32) AS skolem
          |  FROM customer, unnest([1, 2, 3, 4]) AS t(j)),
          |canon AS (SELECT k, MIN(skolem) AS subj FROM sk GROUP BY k)
          |SELECT subj, 'key-' || k || '-' || v AS contact
          |FROM canon, unnest([1, 2, 3, 4, 5]) AS u(v)
          |ORDER BY subj, contact""".stripMargin,

      "kg_entity_stats" ->
        """SELECT subj, n_triples, n_preds FROM (
          |  SELECT 'http://ex.org/customer/' || c_custkey AS subj, CAST(7 AS BIGINT) AS n_triples, CAST(6 AS BIGINT) AS n_preds FROM customer WHERE c_custkey % 7 <> 0
          |  UNION ALL SELECT DISTINCT 'http://ex.org/nation/' || c_nationkey, 2, 2 FROM customer WHERE c_custkey % 7 <> 0
          |) t ORDER BY subj""".stripMargin,

      "kg_turn_order" ->
        s"""WITH t AS (
           |  SELECT 'conv-' || (c_custkey % 100) AS conv_id,
           |         CAST(c_custkey // 100 AS INT) AS turn_idx,
           |         CASE WHEN c_custkey % 7 = 0 THEN printf('Let me look up customer %d for you.', c_custkey)
           |              ELSE $custMarkup END AS text
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
           |SELECT conv_id, turn_idx, md5(text) AS text_md5,
           |       row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
           |FROM t ORDER BY conv_id, turn_idx""".stripMargin,

      "kg_lineage" ->
        """SELECT 'conv-' || (c_custkey % 100) AS conv_id, 9 * count(*) AS n_triples
          |FROM customer WHERE c_custkey % 7 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin,

      "q1_pricing" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_base,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(18,4)) AS VARCHAR) AS sum_disc_price,
          |  COUNT(*) AS n_rows
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q3_top_orders" ->
        """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
          |  CAST(d_revenue AS VARCHAR) AS revenue
          |FROM (
          |  SELECT o_orderkey, o_orderdate,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(18,4)) AS d_revenue
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
          |  WHERE c_mktsegment = 'BUILDING'
          |  GROUP BY o_orderkey, o_orderdate
          |  ORDER BY d_revenue DESC, o_orderkey LIMIT 10
          |) t ORDER BY d_revenue DESC, o_orderkey""".stripMargin,

      "events_hourly" ->
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
          |  COUNT(*) AS n, ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "doc_token_stats" ->
        """SELECT doc_id, length(text) AS chars, len(string_split(text, ' ')) AS tokens,
          |  len(list_distinct(string_split(text, ' '))) AS distinct_tokens,
          |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_ish_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,

      "events_sessions" ->
        """WITH g AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800.0
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM events)
          |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

      "doc_quality" ->
        """SELECT doc_id,
          |  ROUND(CAST(len(string_split(text, ' ')) AS DOUBLE) / GREATEST(length(text), 1), 4) AS token_density,
          |  ROUND(CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / GREATEST(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
          |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / GREATEST(len(string_split(text, ' ')), 1), 4) AS distinct_ratio
          |FROM documents ORDER BY doc_id""".stripMargin,

      "doc_top_quality" ->
        """WITH s AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','is','of'], x))) AS s_en,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','und','ist','das'], x))) AS s_de,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['le','et','est','les'], x))) AS s_fr,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','y','es','los'], x))) AS s_es
          |  FROM documents),
          |l AS (SELECT doc_id,
          |  CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
          |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
          |       WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang_guess FROM s),
          |q AS (SELECT doc_id, ROUND(CAST(len(string_split(text, ' ')) AS DOUBLE) / GREATEST(length(text), 1), 4) AS token_density FROM documents),
          |r AS (SELECT l.lang_guess, CAST(q.doc_id AS VARCHAR) AS doc_id, q.token_density,
          |        row_number() OVER (PARTITION BY l.lang_guess ORDER BY q.token_density DESC, CAST(q.doc_id AS VARCHAR)) AS rank
          |      FROM q JOIN l USING (doc_id))
          |SELECT lang_guess, rank, doc_id, token_density FROM r WHERE rank <= 3 ORDER BY lang_guess, rank""".stripMargin,

      "doc_langid" ->
        """WITH s AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','is','of'], x))) AS s_en,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','und','ist','das'], x))) AS s_de,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['le','et','est','les'], x))) AS s_fr,
          |    len(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','y','es','los'], x))) AS s_es
          |  FROM documents)
          |SELECT doc_id,
          |  CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
          |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
          |       WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang_guess,
          |  GREATEST(s_en, s_de, s_fr, s_es) AS lang_score
          |FROM s ORDER BY doc_id""".stripMargin,

      "doc_exact_dups" ->
        """SELECT md5(text) AS text_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

      "doc_jaccard_pairs" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
          |dfc AS (SELECT shingle, COUNT(*) AS c FROM sh0 GROUP BY 1),
          |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfc USING (shingle) WHERE dfc.c <= 1000),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
          |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |j AS (SELECT doc_a, doc_b, ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
          |      FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b)
          |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,

      "doc_fingerprint" ->
        s"""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(string_split(text, ' '), gt -> ${tokenHashSql("gt")})),
           |    (fa, fh) -> (fa*31 + fh) % $FingerprintP) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin,

      "doc_simhash" -> {
        val votes = (0 until graft.ops.TextOps.SimhashBits)
          .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(", ")
        val pack = (0 until graft.ops.TextOps.SimhashBits)
          .map(i => s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
           |h AS (SELECT doc_id, ${tokenHash62Sql("t")} AS h FROM tok),
           |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id)
           |SELECT doc_id, $pack AS simhash FROM v ORDER BY doc_id""".stripMargin
      },

      "doc_minhash_pairs" ->
        s"""WITH $minhashCtes
           |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,

      "doc_cross_dedup" ->
        s"""WITH $crossDedupCtes
           |SELECT doc_new, doc_old, jaccard FROM jx WHERE jaccard >= 0.3 ORDER BY doc_new, doc_old""".stripMargin,

      "doc_dedup_groups" ->
        s"""WITH RECURSIVE $minhashCtes,
           |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3),
           |edg AS (SELECT CAST(doc_a AS VARCHAR) AS a, CAST(doc_b AS VARCHAR) AS b FROM p
           |        UNION ALL SELECT CAST(doc_b AS VARCHAR), CAST(doc_a AS VARCHAR) FROM p),
           |nodes AS (SELECT DISTINCT a AS node FROM edg),
           |reach(node, lbl) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e.b, r.lbl FROM reach r JOIN edg e ON e.a = r.node)
           |SELECT node AS doc_id, MIN(lbl) AS keep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

      "doc_simhash_pairs" -> {
        val votes = (0 until graft.ops.TextOps.SimhashBits)
          .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(", ")
        val pack = (0 until graft.ops.TextOps.SimhashBits)
          .map(i => s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        val bands = graft.ops.TextOps.simhashBands(3).zipWithIndex.map { case ((off, w), b) =>
          s"SELECT doc_id, simhash, $b AS band, (simhash >> $off) & ${(1L << w) - 1} AS chunk FROM sh"
        }.mkString(" UNION ALL ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
           |h AS (SELECT doc_id, ${tokenHash62Sql("t")} AS h FROM tok),
           |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
           |sh AS (SELECT doc_id, $pack AS simhash FROM v),
           |banded AS ($bands)
           |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
           |FROM banded x JOIN banded y ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      },

      "doc_substring_dups" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |w AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' ')))) AS gram
          |      FROM toks WHERE len(t) >= 5),
          |g AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
          |dup AS (SELECT w.doc_id, COUNT(*) AS dup_windows FROM w JOIN g USING (gram) WHERE g.df >= 2 GROUP BY 1),
          |tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY 1)
          |SELECT tot.doc_id, n_windows, COALESCE(dup_windows, 0) AS dup_windows,
          |  ROUND(CAST(COALESCE(dup_windows, 0) AS DOUBLE) / n_windows, 4) AS dup_ratio
          |FROM tot LEFT JOIN dup ON dup.doc_id = tot.doc_id ORDER BY tot.doc_id""".stripMargin,

      "doc_decontam" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |w AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' ')))) AS gram
          |      FROM toks WHERE len(t) >= 5),
          |bg AS (SELECT DISTINCT gram FROM w WHERE doc_id % 29 = 0),
          |hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM w JOIN bg USING (gram) WHERE doc_id % 29 <> 0 GROUP BY 1)
          |SELECT d.doc_id, COALESCE(n_hits, 0) AS n_hits,
          |  CAST(COALESCE(n_hits, 0) > 0 AS BIGINT) AS contaminated
          |FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
          |WHERE d.doc_id % 29 <> 0 ORDER BY d.doc_id""".stripMargin,

      // COALESCE mirrors hashSplit's null-doc_id handling (bucket 0 →
      // 'train'), so parity holds on null keys, not just on the fixtures
      "doc_split" ->
        s"""WITH b AS (SELECT doc_id,
           |  (${graft.ops.PortableHash.tokenHash31Sql("COALESCE(CAST(doc_id AS VARCHAR), '')")}) % 100 AS bucket
           |  FROM documents)
           |SELECT doc_id, bucket,
           |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin,

      "doc_pii_scrub" ->
        s"""WITH p AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com call +1-555-' ||
           |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(pii_text, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(regexp_replace(pii_text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'), '${TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
           |  md5(regexp_replace(regexp_replace(pii_text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
           |      '${TextOps.PhonePattern}', '<PHONE>', 'g')) AS clean_md5
           |FROM p ORDER BY doc_id""".stripMargin,

      "doc_ngram_top" ->
        """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
          |g AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
          |      FROM toks WHERE len(t) >= 2)
          |SELECT gram, COUNT(*) AS n_occ FROM g GROUP BY 1 ORDER BY n_occ DESC, gram LIMIT 100""".stripMargin,

      // argmax tiebreak mirrors Spark's max(struct(c, gram)): count desc,
      // then gram DESC (lexicographic struct max)
      "doc_repetition" ->
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts, length(text) AS chars FROM documents),
          |w AS (SELECT doc_id, chars, CAST(len(ts) AS BIGINT) AS n_tokens,
          |        CASE WHEN len(ts) >= 5 THEN list_transform(range(1, len(ts) - 3), i -> array_to_string(ts[i:i+4], ' ')) ELSE CAST([] AS VARCHAR[]) END AS w5,
          |        CASE WHEN len(ts) >= 2 THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) ELSE CAST([] AS VARCHAR[]) END AS g2
          |      FROM d),
          |b AS (SELECT doc_id, chars, n_tokens, CAST(len(w5) AS BIGINT) AS n_windows,
          |        CAST(len(w5) - len(list_distinct(w5)) AS BIGINT) AS dup_windows, g2 FROM w),
          |gx AS (SELECT doc_id, unnest(g2) AS gram FROM b),
          |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM gx GROUP BY 1, 2),
          |tp AS (SELECT doc_id, gram AS top_gram, c AS top_gram_n
          |       FROM (SELECT doc_id, gram, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) AS rn FROM gc)
          |       WHERE rn = 1)
          |SELECT b.doc_id, b.n_tokens, b.n_windows, b.dup_windows,
          |  ROUND(CAST(b.dup_windows AS DOUBLE) / GREATEST(b.n_windows, 1), 4) AS dup_window_frac,
          |  tp.top_gram, COALESCE(tp.top_gram_n, 0) AS top_gram_n,
          |  ROUND(CAST(COALESCE(tp.top_gram_n * length(tp.top_gram), 0) AS DOUBLE) / GREATEST(b.chars, 1), 4) AS top_char_frac,
          |  (ROUND(CAST(COALESCE(tp.top_gram_n * length(tp.top_gram), 0) AS DOUBLE) / GREATEST(b.chars, 1), 4) <= 0.2
          |   AND ROUND(CAST(b.dup_windows AS DOUBLE) / GREATEST(b.n_windows, 1), 4) <= 0.3) AS keep
          |FROM b LEFT JOIN tp USING (doc_id) ORDER BY b.doc_id""".stripMargin,

      "doc_bpe_pairs" ->
        """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
          |p AS (SELECT unnest(list_transform(range(1, length(tok)), i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
          |      FROM toks WHERE length(tok) >= 2)
          |SELECT pair, COUNT(*) AS n_occ FROM p GROUP BY 1 ORDER BY n_occ DESC, pair LIMIT 100""".stripMargin,

      "doc_bpe_encode" -> TextOps.bpeEncodeOracleSql(BpeMerges),

      // COALESCEs mirror stratifiedSample's null handling: a null stratum
      // hashes as '' (default rate) instead of poisoning the concat
      "doc_sample_strata" ->
        s"""WITH s AS (SELECT source, doc_id,
           |  (${graft.ops.PortableHash.tokenHash31Sql("COALESCE(source, '') || ':' || COALESCE(CAST(doc_id AS VARCHAR), '')")}) % 1000 AS h
           |  FROM documents)
           |SELECT source, COUNT(*) AS n_total,
           |  CAST(COUNT(*) FILTER (WHERE h < CASE WHEN source = 'src0' THEN 500
           |    WHEN source = 'src1' THEN 100 ELSE 200 END) AS BIGINT) AS n_sampled
           |FROM s GROUP BY source ORDER BY source""".stripMargin,

      "doc_quality_filters" ->
        """WITH q AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |m AS (SELECT doc_id, len(t) AS n_words,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS sum_len,
          |  len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS n_stop,
          |  len(list_distinct(t)) AS n_distinct FROM q),
          |r AS (SELECT doc_id, n_words,
          |  CAST(sum_len AS DOUBLE) / GREATEST(n_words, 1) AS mean_raw,
          |  CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1) AS stop_raw,
          |  CAST(n_distinct AS DOUBLE) / GREATEST(n_words, 1) AS dist_raw FROM m)
          |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
          |  ROUND(mean_raw, 4) AS mean_word_len, ROUND(stop_raw, 4) AS stop_ratio,
          |  ROUND(dist_raw, 4) AS distinct_ratio,
          |  CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS ok_words,
          |  CAST(mean_raw >= 3.0 AND mean_raw <= 10.0 AS BIGINT) AS ok_len,
          |  CAST(stop_raw >= 0.02 AS BIGINT) AS ok_stop,
          |  CAST(dist_raw >= 0.3 AS BIGINT) AS ok_rep,
          |  CAST(n_words >= 50 AND n_words <= 100000 AND mean_raw >= 3.0 AND mean_raw <= 10.0
          |    AND stop_raw >= 0.02 AND dist_raw >= 0.3 AS BIGINT) AS keep
          |FROM r ORDER BY doc_id""".stripMargin,

      "doc_rarity" ->
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
          |r AS (SELECT tok, (length(bin(n)) - 1) - (length(bin(c)) - 1) AS rarity FROM cnt, tot)
          |SELECT doc_id, COUNT(*) AS n_tokens,
          |  ROUND(CAST(SUM(rarity) AS DOUBLE) / COUNT(*), 4) AS mean_rarity
          |FROM tok JOIN r USING (tok) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "doc_chunks" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |c AS (SELECT doc_id, unnest(list_transform(range(0, CAST(floor((len(t)-1)/24) AS BIGINT) + 1),
          |      i -> {'ci': i, 'ch': t[i*24+1 : i*24+32]})) AS s FROM toks)
          |SELECT doc_id, s.ci AS chunk_idx, len(s.ch) AS n_tokens,
          |  md5(array_to_string(s.ch, ' ')) AS chunk_md5
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

      "doc_train_set" ->
        s"""WITH RECURSIVE $minhashCtes,
           |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3),
           |edg AS (SELECT CAST(doc_a AS VARCHAR) AS a, CAST(doc_b AS VARCHAR) AS b FROM p
           |        UNION ALL SELECT CAST(doc_b AS VARCHAR), CAST(doc_a AS VARCHAR) FROM p),
           |nodes AS (SELECT DISTINCT a AS node FROM edg),
           |reach(node, lbl) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e.b, r.lbl FROM reach r JOIN edg e ON e.a = r.node),
           |drops AS (SELECT CAST(node AS BIGINT) AS doc_id FROM reach GROUP BY node HAVING MIN(lbl) <> node),
           |q_m AS (SELECT doc_id, len(t) AS n_words,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS sum_len,
           |  len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS n_stop,
           |  len(list_distinct(t)) AS n_distinct FROM toks),
           |q_keep AS (SELECT doc_id FROM q_m WHERE n_words >= 50 AND n_words <= 100000
           |  AND CAST(sum_len AS DOUBLE) / GREATEST(n_words, 1) >= 3.0
           |  AND CAST(sum_len AS DOUBLE) / GREATEST(n_words, 1) <= 10.0
           |  AND CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1) >= 0.02
           |  AND CAST(n_distinct AS DOUBLE) / GREATEST(n_words, 1) >= 0.3),
           |s_tr AS (SELECT doc_id FROM documents
           |  WHERE (${graft.ops.PortableHash.tokenHash31Sql("COALESCE(CAST(doc_id AS VARCHAR), '')")}) % 100 < 90),
           |w5 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' ')))) AS gram
           |       FROM toks WHERE len(t) >= 5),
           |bg5 AS (SELECT DISTINCT gram FROM w5 WHERE doc_id % 29 = 0),
           |contam AS (SELECT DISTINCT w5.doc_id FROM w5 JOIN bg5 USING (gram) WHERE w5.doc_id % 29 <> 0)
           |SELECT d.doc_id FROM documents d
           |WHERE d.doc_id IN (SELECT doc_id FROM s_tr)
           |  AND d.doc_id IN (SELECT doc_id FROM q_keep)
           |  AND d.doc_id % 29 <> 0
           |  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
           |  AND d.doc_id NOT IN (SELECT doc_id FROM drops)
           |ORDER BY d.doc_id""".stripMargin,

      "kg_ntriples" ->
        """WITH c AS (SELECT * FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey % 7 <> 0)
          |SELECT value FROM (
          |  SELECT printf('<http://ex.org/customer/%d> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person> .', c_custkey) AS value FROM c
          |  UNION ALL SELECT printf('<http://ex.org/customer/%d> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/class/Customer> .', c_custkey) FROM c
          |  UNION ALL SELECT printf('<http://ex.org/customer/%d> <http://schema.org/name> "%s"@en .', c_custkey, c_name) FROM c
          |  UNION ALL SELECT printf('<http://ex.org/customer/%d> <http://schema.org/segment> "%s"@en .', c_custkey, c_mktsegment) FROM c
          |  UNION ALL SELECT printf('<http://ex.org/customer/%d> <http://schema.org/acctbal> "%s"^^<http://www.w3.org/2001/XMLSchema#double> .', c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)) FROM c
          |  UNION ALL SELECT printf('<http://ex.org/customer/%d> <http://schema.org/nation> <http://ex.org/nation/%d> .', c_custkey, c_nationkey) FROM c
          |  UNION ALL SELECT printf('<http://ex.org/customer/%d> <http://schema.org/additionalType> <http://ex.org/class/Customer> .', c_custkey) FROM c
          |  UNION ALL SELECT DISTINCT printf('<http://ex.org/nation/%d> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Country> .', c_nationkey) FROM c
          |  UNION ALL SELECT DISTINCT printf('<http://ex.org/nation/%d> <http://schema.org/name> "%s"@en .', c_nationkey, n_name) FROM c
          |) t ORDER BY value""".stripMargin,

      "kg_bgp_person_nation" ->
        """SELECT 'http://ex.org/customer/' || CAST(c_custkey AS VARCHAR) AS c,
          |  c_name AS name,
          |  'http://ex.org/nation/' || CAST(c_nationkey AS VARCHAR) AS nat,
          |  n_name AS nat_name
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |WHERE c_custkey % 7 <> 0 ORDER BY c""".stripMargin,

      // DuckDB sum() yields HUGEINT (→ float64 through pandas) — every sum
      // is CAST back to BIGINT so the schema matches Spark's longs
      "doc_source_mixture" ->
        """WITH s AS (SELECT source, count(*) AS n_docs,
          |    CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS tokens
          |  FROM documents GROUP BY source),
          |w AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w FROM s),
          |p AS (SELECT *, CAST((w * 1000000) // greatest(CAST(sum(w) OVER () AS BIGINT), 1)
          |    AS BIGINT) AS weight_ppm FROM w)
          |SELECT source, n_docs, tokens, weight_ppm,
          |  CASE WHEN tokens > 0
          |    THEN CAST(least(1300000, weight_ppm * 200000 // tokens) AS BIGINT)
          |    ELSE 0 END AS sample_rate_ppm
          |FROM p ORDER BY source""".stripMargin,

      "doc_pack_seqs" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(greatest(coalesce(len(string_split(text, ' ')), 0), 0) AS BIGINT) AS tokens
          |  FROM documents),
          |c AS (SELECT doc_id, tokens,
          |    CAST(sum(tokens) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM t)
          |SELECT doc_id, tokens, cum - tokens AS start_offset,
          |  (cum - tokens) // 512 AS first_seq,
          |  CASE WHEN tokens > 0 THEN (cum - 1) // 512
          |    ELSE (cum - tokens) // 512 END AS last_seq,
          |  CASE WHEN tokens > 0
          |    THEN (CASE WHEN tokens > 0 THEN (cum - 1) // 512
          |      ELSE (cum - tokens) // 512 END) - ((cum - tokens) // 512) + 1
          |    ELSE 0 END AS n_seqs
          |FROM c ORDER BY doc_id""".stripMargin,

      "kg_bgp_person_star" ->
        """SELECT 'http://ex.org/customer/' || CAST(c_custkey AS VARCHAR) AS c,
          |  c_name AS name,
          |  'http://ex.org/nation/' || CAST(c_nationkey AS VARCHAR) AS nat
          |FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c""".stripMargin,

      "kg_bgp_entailed" ->
        """SELECT 'http://ex.org/customer/' || CAST(c_custkey AS VARCHAR) AS c,
          |  c_name AS title,
          |  'http://ex.org/nation/' || CAST(c_nationkey AS VARCHAR) AS nat
          |FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c, title""".stripMargin,

      // recursive CTE mirrors pathPlus's fixpoint; UNION (distinct)
      // terminates on the same novelty condition the anti-join does
      "kg_path_reachable" ->
        """WITH RECURSIVE e AS (
          |  SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS s,
          |         'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) AS o
          |  FROM customer WHERE c_custkey > 1),
          |r AS (SELECT s, o FROM e
          |      UNION
          |      SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)
          |SELECT s AS emp, o AS mgr FROM r ORDER BY emp, mgr""".stripMargin,

      // one merged component rooted at the min employee IRI. Node set =
      // custkeys ≥ 1: each k > 1 is an edge src, 1 is the root's dst;
      // custkey 0 has no reportsTo edge and no child (k div 2 = 0 only for
      // k = 1, which emits no edge), so it never enters the graph
      "kg_cc_incr" ->
        """SELECT 'http://ex.org/emp/1' AS component,
          |  count(*) AS component_size
          |FROM customer WHERE c_custkey >= 1 ORDER BY component""".stripMargin,

      // incremental == from-scratch: the same full-tree recursive CTE as
      // kg_path_reachable
      "kg_path_incr" ->
        """WITH RECURSIVE e AS (
          |  SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS s,
          |         'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) AS o
          |  FROM customer WHERE c_custkey > 1),
          |r AS (SELECT s, o FROM e
          |      UNION
          |      SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)
          |SELECT s AS emp, o AS mgr FROM r ORDER BY emp, mgr""".stripMargin,

      // reportsTo+ closure joined to each manager's name literal; DISTINCT
      // because two managers up one chain could share a name (they don't in
      // this data, but path set semantics say pairs, not witnesses)
      "kg_path_mgr_names" ->
        """WITH RECURSIVE e AS (
          |  SELECT c_custkey AS s, c_custkey // 2 AS o
          |  FROM customer WHERE c_custkey > 1),
          |r AS (SELECT s, o FROM e
          |      UNION
          |      SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)
          |SELECT DISTINCT 'http://ex.org/emp/' || CAST(r.s AS VARCHAR) AS emp,
          |  c.c_name AS mgr_name
          |FROM r JOIN customer c ON c.c_custkey = r.o
          |ORDER BY emp, mgr_name""".stripMargin,

      // the chain 13 -> 6 -> 3 -> 1 plus the zero-length self pair
      "kg_path_star_bound" ->
        """WITH RECURSIVE r AS (
          |  SELECT 13 AS k
          |  UNION
          |  SELECT k // 2 FROM r WHERE k > 1)
          |SELECT 'http://ex.org/emp/' || CAST(k AS VARCHAR) AS anc
          |FROM r ORDER BY anc""".stripMargin,

      // colleagues sharing a manager (self included): employees with the
      // same c_custkey // 2 parent; root (custkey 1) has no reportsTo edge
      // so it never appears
      "kg_path_peers" ->
        """SELECT 'http://ex.org/emp/' || CAST(a.c_custkey AS VARCHAR) AS e,
          |  a.c_name AS en,
          |  'http://ex.org/emp/' || CAST(b.c_custkey AS VARCHAR) AS peer
          |FROM customer a JOIN customer b
          |  ON a.c_custkey // 2 = b.c_custkey // 2
          |WHERE a.c_custkey > 1 AND b.c_custkey > 1
          |ORDER BY e, peer""".stripMargin,

      "kg_bgp_optional" ->
        """SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS e,
          |  c_name AS n,
          |  CASE WHEN c_custkey > 1
          |    THEN 'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) END AS m
          |FROM customer ORDER BY e""".stripMargin,

      "kg_describe" ->
        """WITH c AS (
          |  SELECT * FROM customer JOIN nation ON c_nationkey = n_nationkey
          |  WHERE c_custkey % 7 <> 0 AND n_name = 'NATION_7')
          |SELECT s, p, o FROM (
          |  SELECT 'http://ex.org/customer/' || c_custkey AS s,
          |    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
          |    'http://schema.org/Person' AS o FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey,
          |    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
          |    'http://ex.org/class/Customer' FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey,
          |    'http://schema.org/name', c_name FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey,
          |    'http://schema.org/segment', c_mktsegment FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey,
          |    'http://schema.org/acctbal',
          |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey,
          |    'http://schema.org/nation', 'http://ex.org/nation/' || c_nationkey FROM c
          |  UNION ALL SELECT 'http://ex.org/customer/' || c_custkey,
          |    'http://schema.org/additionalType', 'http://ex.org/class/Customer' FROM c
          |) t ORDER BY s, p, o""".stripMargin,

      "kg_bgp_agg" ->
        """SELECT 'http://ex.org/nation/' || CAST(c_nationkey AS VARCHAR) AS nat,
          |  count(*) AS n_members
          |FROM customer WHERE c_custkey % 7 <> 0
          |GROUP BY 1 ORDER BY nat""".stripMargin,

      "kg_entail_trans" ->
        """WITH RECURSIVE e AS (
          |  SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS s,
          |         'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) AS o
          |  FROM customer WHERE c_custkey > 1),
          |r AS (SELECT s, o FROM e
          |      UNION
          |      SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)
          |SELECT s AS emp, o AS anc FROM r ORDER BY emp, anc""".stripMargin,

      "kg_graph_diff" ->
        """SELECT change, s, p, o FROM (
          |  SELECT '+' AS change,
          |    'http://ex.org/customer/' || c_custkey AS s,
          |    'http://schema.org/acctbal' AS p,
          |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS o
          |  FROM customer WHERE c_custkey % 7 <> 0
          |  UNION ALL
          |  SELECT '-', 'http://ex.org/customer/' || c_custkey,
          |    'http://schema.org/segment', c_mktsegment
          |  FROM customer WHERE c_custkey % 7 <> 0
          |) t ORDER BY change, s, p, o""".stripMargin,

      "kg_ask" ->
        """SELECT q, ask FROM (
          |  SELECT 'person_exists' AS q, TRUE AS ask
          |  UNION ALL SELECT 'unicorn_exists', FALSE
          |) t ORDER BY q""".stripMargin,

      "kg_construct" ->
        """SELECT subj, pred, obj FROM (
          |  SELECT 'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR) AS subj,
          |    'http://ex.org/manages' AS pred,
          |    'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS obj
          |  FROM customer WHERE c_custkey > 1
          |  UNION
          |  SELECT DISTINCT 'http://ex.org/emp/' || CAST(c_custkey // 2 AS VARCHAR),
          |    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
          |    'http://ex.org/Manager'
          |  FROM customer WHERE c_custkey > 1
          |) t ORDER BY subj, pred, obj""".stripMargin,

      "kg_bgp_minus" ->
        """SELECT 'http://ex.org/emp/' || CAST(c_custkey AS VARCHAR) AS e,
          |  c_name AS n
          |FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM customer c2
          |  WHERE c2.c_custkey > 1 AND c2.c_custkey // 2 = c.c_custkey)
          |ORDER BY e""".stripMargin,

      "kg_bgp_union" ->
        """SELECT x, v FROM (
          |  SELECT 'http://ex.org/customer/' || CAST(c_custkey AS VARCHAR) AS x,
          |    c_name AS v
          |  FROM customer WHERE c_custkey % 7 <> 0
          |  UNION
          |  SELECT DISTINCT 'http://ex.org/nation/' || CAST(c_nationkey AS VARCHAR),
          |    n_name
          |  FROM customer JOIN nation ON c_nationkey = n_nationkey
          |  WHERE c_custkey % 7 <> 0
          |) t ORDER BY x, v""".stripMargin,

      "kg_pagerank" ->
        s"""WITH ${pagerankCtes(5)}
           |SELECT node, r AS rank_micros FROM r5 ORDER BY node""".stripMargin,

      "kg_bgp_nation_lookup" ->
        """SELECT 'http://ex.org/nation/' || CAST(c_nationkey AS VARCHAR) AS nat,
          |  'http://ex.org/customer/' || CAST(c_custkey AS VARCHAR) AS c,
          |  c_name AS name
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |WHERE c_custkey % 7 <> 0 AND n_name = 'NATION_7' ORDER BY c""".stripMargin,

      "sim_lsh_pairs" ->
        s"""WITH tb AS (SELECT vec_id, t, ${lshBucketSql("embedding", "t", 8)} AS bucket
           |            FROM embeddings, range(0, 4) r(t)),
           |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |         FROM tb x JOIN tb y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |p AS (SELECT vec_a, vec_b,
           |        list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
           |      FROM cand JOIN ed a ON a.vec_id = vec_a JOIN ed b ON b.vec_id = vec_b)
           |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim FROM p WHERE cos >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,

      "sim_lsh_recall" ->
        s"""WITH corpus AS (
           |  SELECT CAST(vec_id AS VARCHAR) AS vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT CAST(vec_id AS VARCHAR) || '_p',
           |    list_transform(range(1, len(embedding)+1),
           |      gi -> CAST(CAST(embedding[gi] AS DOUBLE) * (1.0 + 0.05 * (${planeSql("999983", "gi-1")})) AS FLOAT))
           |  FROM embeddings),
           |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM corpus),
           |ex AS (SELECT COUNT(*) AS n_exact FROM ed a JOIN ed b ON a.vec_id < b.vec_id
           |       WHERE list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.9),
           |tb AS (SELECT vec_id, t, ${lshBucketSql("embedding", "t", 8)} AS bucket
           |       FROM corpus, range(0, 4) r(t)),
           |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |         FROM tb x JOIN tb y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |ls AS (SELECT COUNT(*) AS n_lsh FROM cand JOIN ed a ON a.vec_id = cand.vec_a JOIN ed b ON b.vec_id = cand.vec_b
           |       WHERE list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.9)
           |SELECT n_exact, n_lsh, ROUND(CAST(n_lsh AS DOUBLE) / n_exact, 4) AS recall FROM ex, ls""".stripMargin,

      "sim_ivf_topk" ->
        """WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |cents AS (SELECT CAST(vec_id AS VARCHAR) AS c_id, emb AS c_emb FROM ed ORDER BY vec_id LIMIT 256),
          |cscore AS (SELECT e.vec_id, c.c_id,
          |    COALESCE(list_dot_product(e.emb, c.c_emb) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))), -2.0) AS c_cos
          |  FROM ed e, cents c),
          |ranked AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS pr FROM cscore),
          |qassign AS (SELECT vec_id, c_id AS cell FROM ranked WHERE pr <= 2),
          |cassign AS (SELECT vec_id, c_id AS cell FROM ranked WHERE pr <= 1),
          |pairs AS (SELECT q.vec_id AS vec_a, c.vec_id AS vec_b FROM qassign q JOIN cassign c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
          |sc AS (SELECT vec_a, vec_b,
          |    list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
          |  FROM pairs JOIN ed a ON a.vec_id = vec_a JOIN ed b ON b.vec_id = vec_b),
          |r AS (SELECT vec_a, vec_b, cos, row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank FROM sc)
          |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim, rank FROM r WHERE rank <= 5 ORDER BY vec_a, rank""".stripMargin,

      "sim_kmeans_assign" -> kmeansOracle(m = 8, iters = 2),

      // replays the full two-level chain: coarse centroids (64 smallest
      // ids) → home assignment → per-cell sub-centroids (16 smallest-id
      // members) → probe 4 coarse × 2 sub cells → exact-cosine rank
      "sim_ivf_twolevel" ->
        """WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |c1 AS (SELECT CAST(vec_id AS VARCHAR) AS c_id, emb AS c_emb FROM ed ORDER BY vec_id LIMIT 64),
          |cs AS (SELECT e.vec_id, c.c_id,
          |    COALESCE(list_dot_product(e.emb, c.c_emb) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))), -2.0) AS ccos
          |  FROM ed e, c1 c),
          |cr AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS pr FROM cs),
          |home1 AS (SELECT vec_id, c_id AS coarse FROM cr WHERE pr <= 1),
          |qcoarse AS (SELECT vec_id, c_id AS coarse FROM cr WHERE pr <= 4),
          |subc AS (SELECT h.coarse, CAST(h.vec_id AS VARCHAR) AS sub_id, e.emb AS s_emb
          |  FROM (SELECT vec_id, coarse, row_number() OVER (PARTITION BY coarse ORDER BY vec_id) AS rn FROM home1) h
          |  JOIN ed e ON e.vec_id = h.vec_id WHERE h.rn <= 16),
          |ss_q AS (SELECT p.vec_id, p.coarse, s.sub_id,
          |    COALESCE(list_dot_product(e.emb, s.s_emb) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(s.s_emb, s.s_emb))), -2.0) AS scos
          |  FROM qcoarse p JOIN ed e ON e.vec_id = p.vec_id JOIN subc s ON s.coarse = p.coarse),
          |qcells AS (SELECT vec_id, coarse || '|' || sub_id AS cell FROM
          |  (SELECT vec_id, coarse, sub_id, row_number() OVER (PARTITION BY vec_id, coarse ORDER BY scos DESC, sub_id) AS sr FROM ss_q) t WHERE sr <= 2),
          |ss_c AS (SELECT p.vec_id, p.coarse, s.sub_id,
          |    COALESCE(list_dot_product(e.emb, s.s_emb) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(s.s_emb, s.s_emb))), -2.0) AS scos
          |  FROM home1 p JOIN ed e ON e.vec_id = p.vec_id JOIN subc s ON s.coarse = p.coarse),
          |ccells AS (SELECT vec_id, coarse || '|' || sub_id AS cell FROM
          |  (SELECT vec_id, coarse, sub_id, row_number() OVER (PARTITION BY vec_id, coarse ORDER BY scos DESC, sub_id) AS sr FROM ss_c) t WHERE sr <= 1),
          |pairs AS (SELECT q.vec_id AS vec_a, c.vec_id AS vec_b FROM qcells q JOIN ccells c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
          |sc AS (SELECT vec_a, vec_b,
          |    list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
          |  FROM pairs JOIN ed a ON a.vec_id = vec_a JOIN ed b ON b.vec_id = vec_b),
          |r AS (SELECT vec_a, vec_b, cos, row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank FROM sc)
          |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim, rank FROM r WHERE rank <= 5 ORDER BY vec_a, rank""".stripMargin,

      "sim_ivf_kmeans" -> kmeansIvfOracle(m = 8, iters = 2, nProbe = 2, k = 5),

      "sim_ivf_twolevel_kmeans" ->
        kmeansTwoLevelOracle(m1 = 8, iters = 2, m2 = 8, nProbe1 = 2, nProbe2 = 2, k = 5),

      "sim_near_dup_groups" ->
        s"""WITH RECURSIVE corpus AS (
           |  SELECT CAST(vec_id AS VARCHAR) AS vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT CAST(vec_id AS VARCHAR) || '_p',
           |    list_transform(range(1, len(embedding)+1),
           |      gi -> CAST(CAST(embedding[gi] AS DOUBLE) * (1.0 + 0.05 * (${planeSql("999983", "gi-1")})) AS FLOAT))
           |  FROM embeddings),
           |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM corpus),
           |tb AS (SELECT vec_id, t, ${lshBucketSql("embedding", "t", 8)} AS bucket
           |       FROM corpus, range(0, 4) r(t)),
           |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |         FROM tb x JOIN tb y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |p AS (SELECT vec_a, vec_b FROM cand JOIN ed a ON a.vec_id = cand.vec_a JOIN ed b ON b.vec_id = cand.vec_b
           |      WHERE list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.9),
           |edg AS (SELECT vec_a AS a, vec_b AS b FROM p UNION ALL SELECT vec_b, vec_a FROM p),
           |nodes AS (SELECT DISTINCT a AS node FROM edg),
           |reach(node, lbl) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e.b, r.lbl FROM reach r JOIN edg e ON e.a = r.node)
           |SELECT node AS vec_id, MIN(lbl) AS keep_id FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,

      // replays MultimodalOps.featurize (portable byte-fold over the
      // reconstructed synthetic payload) + perturbed copies + the LSH →
      // verify → CC chain — same shape as sim_near_dup_groups
      "mm_feature_dups" ->
        s"""WITH RECURSIVE par AS (
           |  SELECT id, 64 + id % 512 AS w, 64 + id % 256 AS h, 1000 + id % 60000 AS dur
           |  FROM range(0, 500) t(id)),
           |bytes AS (SELECT id, list_transform(
           |    [0, 0, w // 256, w % 256, 0, 0, h // 256, h % 256,
           |     0, 0, dur // 256, dur % 256, 0, 0, 0, id % 3]
           |      || list_transform(range(0, id % 96 + 32), bi -> (id * 31 + bi) % 251),
           |    bx -> CAST(bx AS BIGINT)) AS bs
           |  FROM par),
           |feat AS (SELECT CAST(id AS VARCHAR) AS vec_id,
           |    list_transform(range(0, 16), fd ->
           |      CAST((list_reduce(list_prepend(2654435769 + fd, bs),
           |              (fa, fb) -> (fa * 31 + fb + fd) % ${graft.ops.PortableHash.FingerprintP})
           |            % 2000) - 1000 AS FLOAT) / CAST(1000 AS FLOAT)) AS embedding
           |  FROM bytes),
           |corpus AS (
           |  SELECT vec_id, embedding FROM feat
           |  UNION ALL
           |  SELECT vec_id || '_p',
           |    list_transform(range(1, len(embedding)+1),
           |      gi -> CAST(CAST(embedding[gi] AS DOUBLE) * (1.0 + 0.05 * (${planeSql("999983", "gi-1")})) AS FLOAT))
           |  FROM feat),
           |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM corpus),
           |tb AS (SELECT vec_id, t, ${lshBucketSql("embedding", "t", 8)} AS bucket
           |       FROM corpus, range(0, 4) r(t)),
           |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |         FROM tb x JOIN tb y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |p AS (SELECT vec_a, vec_b FROM cand JOIN ed a ON a.vec_id = cand.vec_a JOIN ed b ON b.vec_id = cand.vec_b
           |      WHERE list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.9),
           |edg AS (SELECT vec_a AS a, vec_b AS b FROM p UNION ALL SELECT vec_b, vec_a FROM p),
           |nodes AS (SELECT DISTINCT a AS node FROM edg),
           |reach(node, lbl) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e.b, r.lbl FROM reach r JOIN edg e ON e.a = r.node)
           |SELECT node AS vec_id, MIN(lbl) AS keep_id FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,

      "mm_media_meta" ->
        """SELECT id AS media_id,
          |  CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          |  64 + id % 512 AS width, 64 + id % 256 AS height,
          |  1000 + id % 60000 AS duration_ms, 48 + id % 96 AS byte_len
          |FROM range(0, 500) t(id) ORDER BY media_id""".stripMargin,

      "sim_cosine_pairs" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |        list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
          |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
          |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim FROM p WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,

      "sim_topk" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |        list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
          |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
          |r AS (SELECT vec_a, vec_b, cos, row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank FROM p)
          |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim, rank FROM r WHERE rank <= 5 ORDER BY vec_a, rank""".stripMargin)
  }
}
