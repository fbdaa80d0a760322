package graft

import graft.spark.{GraftSession, GraphQuery}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** spark-submit entry point for CONSUMER-side graph querying — the
  * distributed counterpart of RDF.rb's `Queryable#query` over a loaded
  * repository (the role the reference's output feeds;
  * /root/reference/lib/rdf/microdata/expansion.rb:102-117 runs patterns
  * against the parsed repo). Runs a basic graph pattern against a
  * persisted [[graft.spark.ExtractPipeline.writeGraph]] table:
  *
  *   spark-submit --class graft.QueryMain <jar> \
  *     --graph  /path/to/graph      (or --table catalog_table_name) \
  *     --output /path/to/bindings \
  *     --pattern '?c <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Person>' \
  *     --pattern '?c <http://schema.org/name> ?name' \
  *     [--show 20] [--entail] [--describe c]
  *
  * `--graph` opens a [[graft.spark.ExtractPipeline.writeGraph]] directory
  * (pred_bucket partition pruning from its own layout metadata); `--table`
  * opens a [[graft.spark.ExtractPipeline.writeGraphBucketedBySubject]]
  * catalog table instead — subject-star patterns then join shuffle-free off
  * the bucketed scans, the right layout for entity-assembly queries;
  * `--canonical <crawlRoot>` opens an [[IncrementalMain]] root's
  * entity-canonical view ([[graft.spark.IncrementalGraph.readCanonical]]).
  *
  * Pattern terms: `?name` = variable, `<uri>` = IRI constant, `"text"` =
  * literal constant. The graph's own layout metadata supplies the
  * pred_bucket count (partition pruning), the predicate stats that order
  * joins by selectivity and size `p+`/`p*` closures, and the table schema:
  * opening a `--graph` is a metadata read, not a Spark job (a graph dir
  * written before schemas were recorded infers it with one job) — see
  * [[graft.spark.GraphQuery.loadGraph]]. On a ~28k-statement graph a query
  * runs in 2–4 jobs; BENCH.md attributes them per kind.
  * Bindings are written as parquet; `--show N` additionally prints the
  * first N rows as TSV.
  *
  * `--describe <var>` switches from SELECT to DESCRIBE: the patterns
  * become the entity selector and the output is every stored triple about
  * the entities `?var` binds to (full obj_iri/obj_lexical/obj_datatype/
  * obj_lang columns) — see [[graft.spark.GraphQuery.describe]].
  *
  * `--optional '<pattern>'` (repeatable) adds one single-pattern OPTIONAL
  * group each; `--minus '<pattern>'` (repeatable) removes bindings an
  * agreeing pattern solution matches. One of the two per query — the
  * flat CLI cannot express their nesting order; multi-pattern groups and
  * mixed composition live on the [[graft.spark.GraphQuery]] API.
  *
  * The PREDICATE slot of a `--pattern`, `--optional` or `--minus` may be
  * a SPARQL 1.1 property-path expression instead of a single `<iri>` —
  * written WITHOUT spaces, e.g. `'?e <p>+/<name> ?n'`, `'?a ^<p> ?b'`,
  * `'?x (<p>|<q>)* ?y'`, `'?x !(<p>|^<q>) ?y'` (see
  * [[graft.spark.PathParser]]). A path pattern is a pattern like any
  * other: it joins with the rest through the same selectivity-greedy
  * order, in every form. Binding columns follow the patterns' argument
  * order (first mention).
  */
object QueryMain {

  def main(args: Array[String]): Unit = GraftSession.withSubmitSession { (spark, _) =>
    val n = run(args, spark)
    println(s"Matched $n bindings.")
  }

  /** Parse args, run the BGP, write bindings; returns the row count.
    * Separated from `main` so the suite can drive the full CLI path
    * without owning JVM exit/session lifecycle.
    */
  def run(args: Array[String], spark: SparkSession): Long = {
    val (opts, reps) = CliArgs.parse(args, flags = Set("entail"),
      repeatKeys = Set("pattern", "optional", "minus"), required = Seq("output"))
    val patternStrs = reps.getOrElse("pattern", Vector.empty)
    require(patternStrs.nonEmpty, "at least one --pattern is required")
    require(Seq("graph", "table", "canonical").count(opts.contains) == 1,
      "exactly one of --graph <dir>, --table <name>, or --canonical <crawlRoot> is required")
    val patterns = patternStrs.map(parsePattern)
    val g0 =
      if (opts.contains("graph")) GraphQuery.loadGraph(spark, opts("graph"))
      else if (opts.contains("table")) GraphQuery.loadBucketedGraph(spark, opts("table"))
      else {
        // --canonical <root>: an IncrementalMain crawl root's CANONICAL view
        // (raw graph rewritten through the standing link-state mapping at
        // read time). The rewrite is in-memory, so pred_bucket pruning does
        // not apply and stats are recomputed over the view — ad-hoc shape;
        // steady-state consumers materialize the view (rewriteWithMapping →
        // writeGraph) when merges settle.
        val canon = graft.spark.IncrementalGraph
          .readCanonical(spark, opts("canonical")).toDF().localCheckpoint()
        GraphQuery.PersistedGraph(canon, 0, GraphQuery.predStats(canon))
      }
    // --entail: expand the loaded graph to its OWL-RL-subset closure before
    // matching (the reference applies its Expansion module at read time;
    // schema edges come from the graph itself). The expanded frame is
    // in-memory, so bucket pruning no longer applies — stats are recomputed
    // over the closure so join ordering stays honest. Steady-state
    // deployments should PERSIST the closure instead (ExtractMain --entail
    // → writeGraph) and query that table: derived predicates then get full
    // pruning + write-time stats — see README "Entailed querying at scale".
    val g =
      if (opts.contains("entail")) {
        import spark.implicits._
        // already materialized (owlEntail's output contract): no checkpoint
        val expanded = graft.spark.Entailment.owlEntail(
            g0.df.select(col("subj"), col("pred"), col("obj_iri"),
              col("obj_lexical"), col("obj_datatype"), col("obj_lang"),
              col("conv_id"), col("turn_idx")).as[graft.model.Triple])
          .toDF()
        GraphQuery.PersistedGraph(expanded, 0, GraphQuery.predStats(expanded))
      } else g0
    val optGroups = reps.getOrElse("optional", Vector.empty).map(p => Seq(parsePattern(p)))
    val minusGroups = reps.getOrElse("minus", Vector.empty).map(p => Seq(parsePattern(p)))
    val out: DataFrame = opts.get("describe") match {
      case Some(v) =>
        require(optGroups.isEmpty && minusGroups.isEmpty,
          "--describe composes with --pattern only (the patterns are the selector)")
        GraphQuery.describe(g, patterns, v.stripPrefix("?"))
      case None =>
        require(optGroups.isEmpty || minusGroups.isEmpty,
          "--optional and --minus cannot combine in one CLI query (the " +
            "API composes them; the flat CLI cannot express the nesting order)")
        if (minusGroups.nonEmpty) GraphQuery.bgpMinus(g, patterns, minusGroups)
        else if (optGroups.nonEmpty) GraphQuery.bgpOptional(g, patterns, optGroups)
        else GraphQuery.bgp(g, patterns)
    }
    val rows = graft.spark.ExtractPipeline.writeCounted(out,
      _.write.mode("overwrite").parquet(opts("output")))
    opts.get("show").foreach { k =>
      val bindings = spark.read.parquet(opts("output"))
      println(bindings.columns.mkString("\t"))
      // deterministic display: parquet row order is whatever the writer's
      // tasks committed, so sort by the binding columns before limiting
      bindings.orderBy(bindings.columns.toIndexedSeq.map(col): _*).limit(k.toInt).collect()
        .foreach(r => println(r.toSeq.map(String.valueOf).mkString("\t")))
    }
    rows
  }

  /** One pattern string → three terms. Tokenizes on whitespace outside
    * `<...>` / `"..."` so literal constants may contain spaces; a predicate
    * using path operators (written without spaces) parses as a
    * [[GraphQuery.Path]].
    */
  private def parsePattern(s: String): (GraphQuery.Term, GraphQuery.Term, GraphQuery.Term) = {
    val toks = tokenize(s)
    require(toks.length == 3,
      s"pattern needs exactly 3 terms (?var, <iri>/path, or \"literal\"): $s")
    val pred =
      if (graft.spark.PathParser.isPathExpr(toks(1))) graft.spark.PathParser.parse(toks(1))
      else term(toks(1))
    (term(toks(0)), pred, term(toks(2)))
  }

  private def term(t: String): GraphQuery.Term = t match {
    case v if v.startsWith("?") && v.length > 1 => GraphQuery.V(v.drop(1))
    case i if i.startsWith("<") && i.endsWith(">") && i.length > 2 =>
      GraphQuery.C(i.substring(1, i.length - 1))
    case l if l.startsWith("\"") && l.endsWith("\"") && l.length >= 2 =>
      GraphQuery.C(l.substring(1, l.length - 1))
    case other => sys.error(s"cannot parse term '$other': use ?var, <iri>, or \"literal\"")
  }

  private def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inIri = false
    var inLit = false
    s.foreach { c =>
      if (inIri) { cur += c; if (c == '>') inIri = false }
      else if (inLit) { cur += c; if (c == '"') inLit = false }
      else if (c == '<') { cur += c; inIri = true }
      else if (c == '"') { cur += c; inLit = true }
      else if (c.isWhitespace) { if (cur.nonEmpty) { out += cur.result(); cur.clear() } }
      else cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    require(!inIri && !inLit, s"unterminated <iri> or \"literal\" in pattern: $s")
    out.result()
  }

}
