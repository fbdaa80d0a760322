package graft.spark

import graft.core.{Extractor, RegistryIndex}
import graft.model.{Term, Triple}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The distributed extraction stage: transcripts table → Dataset[Triple].
  *
  * Physical shape (SURVEY.md §4.3): parquet scan with column pruning (only
  * conv_id, turn_idx, text are read) → markup pre-filter (the reference's
  * format sniffing, format.rb:45-47, pushed into the scan as a string
  * predicate) → row-local flatMap extraction (documents never span rows ⇒
  * NO shuffle in the whole stage) → optional global canonicalization
  * (dropDuplicates = the graph's set semantics; first and only shuffle).
  *
  * The registry is driver-parsed and broadcast (registry.rb:16-28 load-once
  * becomes a Broadcast[RegistryIndex]); blank nodes are deterministic
  * skolems so re-extraction after retry/resume is byte-identical.
  */
object ExtractPipeline {

  /** Default registry: the shape of the reference's etc/registry.json
    * (additionalType ⊑ rdf:type under both schema.org prefixes, hcard).
    */
  val defaultRegistry: RegistryIndex = RegistryIndex.fromJson(
    """{
      |  "http://schema.org/": {"properties": {"additionalType": {"subPropertyOf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"}}},
      |  "https://schema.org/": {"properties": {"additionalType": {"subPropertyOf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"}}},
      |  "http://microformats.org/profile/hcard": {}
      |}""".stripMargin)

  /** Markup pre-filter (format sniffing, the reference's format.rb:45–47)
    * as a pushable Column predicate. Case-insensitive: HTML attribute names
    * are — `<DIV ITEMSCOPE>` parses and extracts, so the pre-filter must
    * not drop it (the cheap `contains` guard keeps the regex off rows with
    * no "item" substring at all, the overwhelming majority).
    */
  def markupFilter = col("text").isNotNull &&
    lower(col("text")).contains("item") &&
    col("text").rlike("(?i)item(scope|prop|type|ref|id)")

  /** Extract triples from a transcripts DataFrame.
    *
    * @param transcripts  table with (conv_id, turn_idx, text, ...)
    * @param registry     broadcast-bound vocabulary registry
    * @param basePrefix   per-turn document base = s"$basePrefix<conv_id>/<turn_idx>"
    *                     (null ⇒ no base: relative refs stay relative)
    * @param errorCounter optional accumulator surfacing soft extraction errors
    */
  def extract(transcripts: DataFrame,
              registry: RegistryIndex = defaultRegistry,
              basePrefix: String = null,
              errorCounter: LongAccumulator = null,
              uriOptions: graft.core.UriOptions = graft.core.UriOptions.default): Dataset[Triple] = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(registry)
    // a `base` column, when present, carries a PER-ROW document base URI
    // (file/URL sources: the document's own location, exactly how the
    // reference resolves relative IRIs — reader.rb base_uri); otherwise
    // the conv-derived `basePrefix` rule applies
    val baseCol =
      if (transcripts.columns.contains("base")) col("base").cast("string")
      else lit(null).cast("string")
    // spread AFTER the markup pre-filter (only markup rows shuffle, and
    // only when the input arrived under-partitioned — guide §2.5; a small
    // parquet file otherwise serializes the whole HTML parse on one core)
    val pre = Parallelism.spread(transcripts
        .select(col("conv_id"), col("turn_idx"), col("text"), baseCol.as("base"))
        .filter(markupFilter))
      .as[(String, Int, String, String)]
    pre.mapPartitions { it =>
      val reg = bcast.value
      it.flatMap { case (convId, turnIdx, text, rowBase) =>
        val docId = convId + "#" + turnIdx
        val base =
          if (rowBase != null) rowBase
          else if (basePrefix == null) null
          else s"$basePrefix$convId/$turnIdx"
        val res = Extractor.extract(text, docId, base, reg, uriOptions)
        if (errorCounter != null && res.errors.nonEmpty)
          errorCounter.add(res.errors.size.toLong)
        res.triples.map { rt =>
          rt.obj match {
            case Term.Iri(v) =>
              Triple(rt.subj, rt.pred, v, null, null, null, convId, turnIdx)
            case Term.Lit(lex, dt, lang) =>
              Triple(rt.subj, rt.pred, null, lex, dt, lang, convId, turnIdx)
          }
        }
      }
    }
  }

  /** Graph set semantics: collapse duplicate statements globally
    * (the RDF::Graph insert behavior the reference relies on). One shuffle
    * on the triple identity; lineage of an arbitrary witness row is kept.
    */
  def canonicalize(triples: Dataset[Triple]): Dataset[Triple] =
    triples.dropDuplicates(Triple.identityCols)

  /** Snapshot diff — the incremental-maintenance primitive: which triples
    * does the NEW graph assert that the OLD one didn't (`+`), and which
    * did the old assert that are now gone (`-`)? Identity is the six
    * triple-identity columns (lineage excluded, null-safe — literal
    * triples have null obj_iri); unchanged triples never surface.
    *
    * Scale shape: two co-partitioned null-safe anti-joins on the identity
    * columns (the same key canonicalize shuffles on) plus a metadata-only
    * union — no driver state, no product. Feeding the `+` rows to
    * [[writeGraph]]-style dynamic overwrite (or an Iceberg MERGE via the
    * [[TableIO]] seam) is how a continuously-crawled corpus maintains its
    * KG without rebuilding it.
    */
  def graphDiff(oldTriples: Dataset[Triple], newTriples: Dataset[Triple]): DataFrame = {
    val cond = Triple.identityCond("n", "o")
    val idCols = Triple.identityCols.map(col)
    val added = newTriples.dropDuplicates(Triple.identityCols).as("n")
      .join(oldTriples.as("o"), cond, "left_anti")
      .select(lit("+").as("change") +: idCols: _*)
    val removed = oldTriples.dropDuplicates(Triple.identityCols).as("o")
      .join(newTriples.as("n"), cond, "left_anti")
      .select(lit("-").as("change") +: idCols: _*)
    added.unionByName(removed)
  }

  /** Layout/stats metadata file name inside a writeGraph directory. */
  val LayoutFile = "_graft_layout.json"

  /** Run `write` on `df` with the row count riding the write as an
    * observed metric — no cache, no second scan. Shared by the CLI entry
    * points' self-report (the reference CLI's statements/sec line).
    */
  def writeCounted(df: DataFrame, write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** `ds.localCheckpoint()` with its row count observed on the same job —
    * the [[writeCounted]] pattern for a materialization, where a
    * `count()` after the checkpoint would cost jobs of its own.
    */
  def checkpointCounted[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = ds.observe(obs, count(lit(1)).as("rows")).localCheckpoint()
    (cp, obs.get("rows").asInstanceOf[Long])
  }

  /** Materialize the graph as a partitioned table: bucketed by predicate
    * hash (pred is low-cardinality and hot — hashing spreads it) so
    * predicate-sliced reads prune partitions. Physical binding goes through
    * the [[TableIO]] seam (parquet here; Iceberg in deployment).
    */
  def writeGraph(triples: Dataset[Triple], outDir: String,
                 predBuckets: Int = GraphLayout.DefaultBuckets): Unit = {
    TableIO.default.write(
      triples.withColumn(GraphLayout.BucketColumn, GraphLayout.bucket(col("pred"), predBuckets)),
      outDir, Seq(GraphLayout.BucketColumn))
    // self-describing layout: the bucket count is a property of the TABLE,
    // not of any query against it, and the predicate-frequency stats are
    // catalog statistics computed ONCE at write time (a pruned pred-column
    // scan of the just-written table — vocabulary-bounded, dozens of rows)
    // — so readers ([[GraphQuery.loadGraph]]) never guess the bucket count
    // (a wrong guess silently empties constant-pred patterns) and never
    // re-scan the table for join-ordering stats. The schema that read-back
    // inferred rides along at no extra cost, so readers open the table
    // without an inference job of their own. Persisted through the
    // [[TableIO]] metadata seam ([[GraphLayout]]): the parquet binding
    // writes an atomic `_`-prefixed sidecar via the path's own Hadoop
    // FileSystem (hdfs:// / s3a:// safe, invisible to Spark's listing like
    // _SUCCESS, torn writes impossible and failed renames thrown); an
    // Iceberg binding stores table properties instead of inventing a
    // filesystem path from a catalog identifier. Readers still tolerate
    // absent/corrupt metadata — loadGraph degrades to no-pruning.
    val spark = triples.sparkSession
    val written = TableIO.default.read(spark, outDir)
    GraphLayout.write(spark, outDir,
      GraphLayout(predBuckets, Some(GraphQuery.predStats(written)), Some(written.schema)))
  }

  /** Catalog table property carrying write-time predicate stats on a
    * subject-bucketed graph table (the counterpart of writeGraph's
    * `_graft_layout.json`; Iceberg: table properties play exactly this
    * role). Value: [[GraphLayout.statsJson]], predicate → count.
    */
  val PredStatsProperty = "graft.pred_stats"

  /** Materialize the graph as a SUBJECT-BUCKETED table: `buckets` hash
    * buckets on `subj`, sorted within buckets. Self-joins and star-pattern
    * joins on subject (the dominant access path for entity assembly and
    * entailment) then co-locate WITHOUT a shuffle — the bucketed scan
    * already satisfies the join's required distribution, so a subject-star
    * BGP over this table runs Exchange-free (see
    * [[GraphQuery.loadBucketedGraph]]). This is the catalog-table
    * counterpart of writeGraph's directory layout (Iceberg: `bucket(N,
    * subj)` partition transform).
    *
    * Predicate-frequency stats are computed once at write time
    * ([[GraphQuery.predStats]]) and stored as the [[PredStatsProperty]]
    * TABLE PROPERTY — the table describes itself, readers never re-scan
    * for join-ordering stats.
    *
    * @param path optional explicit data location (external table); default
    *             is the session warehouse directory
    */
  def writeGraphBucketedBySubject(triples: Dataset[Triple], tableName: String,
                                  buckets: Int = 16, path: String = null): Unit = {
    val w = triples.write.mode("overwrite")
      .bucketBy(buckets, "subj").sortBy("subj")
      .format("parquet")
    (if (path != null) w.option("path", path) else w).saveAsTable(tableName)

    val spark = triples.sparkSession
    val stats = GraphLayout.statsJson(GraphQuery.predStats(spark.table(tableName)))
    // catalog API, not an ALTER TABLE SQL string: predicate IRIs are
    // arbitrary strings and must not need SQL-literal escaping
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = catalog.getTableMetadata(ident)
    catalog.alterTable(meta.copy(properties = meta.properties + (PredStatsProperty -> stats)))
  }

  /** IRIREF escaping, Column twin of graft.core.NTriples.escapeIri. A
    * native expression ([[graft.functions.NTriplesEscapeExpr]]) rather than
    * a regexp_replace chain: one replace per escapable character across the
    * four IRI positions plus the lexical form is ~200 regex matchers in one
    * generated method — past janino's 64 KB limit, which silently dropped
    * the whole sink projection to interpreted mode. The expression is one
    * static call, so serialization stays inside whole-stage codegen, and a
    * clean IRI pays one byte scan instead of a regex probe.
    */
  private def escapeIriCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.NTriplesEscapeExpr.iri(c)

  /** N-Triples text dump (the reference CLI's sink, script/parse:23-31). */
  def toNTriples(triples: Dataset[Triple]): DataFrame = {
    val subj = when(col("subj").startsWith(Extractor.SkolemPrefix),
        concat(lit("_:"), substring(col("subj"), Extractor.SkolemPrefix.length + 1, 1000)))
      .otherwise(concat(lit("<"), escapeIriCol(col("subj")), lit(">")))
    val objIri = when(col("obj_iri").startsWith(Extractor.SkolemPrefix),
        concat(lit("_:"), substring(col("obj_iri"), Extractor.SkolemPrefix.length + 1, 1000)))
      .otherwise(concat(lit("<"), escapeIriCol(col("obj_iri")), lit(">")))
    // same escape set as graft.core.NTriples.escape (backslash, quote, the
    // named control escapes \n \r \t, \uXXXX for every other char < 0x20 —
    // reachable via numeric character references in markup), applied by the
    // same native expression as the IRI positions
    val escaped = graft.functions.NTriplesEscapeExpr.literal(col("obj_lexical"))
    val lex = concat(lit("\""), escaped, lit("\""))
    val objLit = when(col("obj_lang").isNotNull, concat(lex, lit("@"), col("obj_lang")))
      .when(col("obj_datatype").isNotNull,
        concat(lex, lit("^^<"), escapeIriCol(col("obj_datatype")), lit(">")))
      .otherwise(lex)
    val obj = when(col("obj_iri").isNotNull, objIri).otherwise(objLit)
    triples.select(concat_ws(" ", subj,
      concat(lit("<"), escapeIriCol(col("pred")), lit(">")), obj, lit(".")).as("value"))
  }
}
