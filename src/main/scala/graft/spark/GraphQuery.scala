package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.graftbridge.PlanBridge.{PlanOps, frameAs, plan}
import scala.collection.mutable

/** Basic-graph-pattern (BGP) querying over the extracted triple table —
  * the consumer-side role RDF.rb's `Queryable#query` plays for the
  * reference reader's output (reference: rdf-microdata feeds RDF.rb
  * repositories; spec/reader_spec.rb exercises `parse(...).query`-style
  * matching via graph equivalence, and expansion.rb:102-117 executes
  * patterns against a loaded repository).
  *
  * A pattern is a (subject, predicate, object) triple of terms; each term
  * is a constant ([[GraphQuery.C]]) or a named variable ([[GraphQuery.V]]),
  * and the predicate may instead be a property path ([[GraphQuery.Path]],
  * SPARQL 1.1's path pattern). `bgp` returns the DISTINCT variable
  * bindings satisfying every pattern; every query form solves its
  * patterns the same way, paths included.
  *
  * Spark-first shape — the whole query stays declarative so Catalyst does
  * the planning:
  *  - each query form builds ONE Catalyst logical plan and wraps it in a
  *    Dataset once ([[PlanBridge]]): the DataFrame API's chain of
  *    Datasets would re-analyze the plan built so far at every `filter`,
  *    `select` and `join`;
  *  - each pattern compiles to one filter and one projection of the triple
  *    table; constant terms become pushable predicates (plain column
  *    equalities and IsNull/Or combinations, so `PushedFilters` reach the
  *    parquet scan — a `?s rdf:type :Person` pattern never reads non-type
  *    rows);
  *  - a constant-predicate pattern filters by [[PersistedGraph.predSlice]]:
  *    on a table with a `pred_bucket` partition column (the
  *    [[ExtractPipeline.writeGraph]] and batch layouts) it also filters
  *    the predicate's [[GraphLayout.bucket]], which folds to a literal at
  *    plan time, so the scan PRUNES partitions: at 100 TB a `rdf:type`
  *    pattern touches 1/n of the directories, not all of them;
  *  - patterns join pairwise on their shared variables (equi-joins on
  *    binding columns — co-partitioned shuffles, or BroadcastHashJoin when
  *    a selective pattern leaves a small side; AQE re-plans at runtime);
  *  - join order is SELECTIVITY-GREEDY within the connectivity constraint:
  *    patterns are costed from a one-pass predicate-frequency stats map
  *    ([[predStats]] — preds are vocabulary-bounded, so the map is
  *    catalog-stat-sized) discounted per bound constant, the cheapest
  *    pattern seeds the join, and each step joins the cheapest CONNECTED
  *    pattern — so two big patterns never join before a selective one can
  *    shrink the bindings. At equal estimated cost, SUBJECT-star joins win
  *    the tie: on a subject-bucketed table they are shuffle-free and keep
  *    the accumulated frame partitioned on the star variable, so the
  *    cross-variable joins (which must shuffle the small binding frame
  *    anyway) land last. A disconnected pattern set is rejected instead
  *    of silently exploding (at 100 TB a cartesian between pattern frames
  *    is the scale-killer this operator must never emit).
  *
  * Object bindings surface as `coalesce(obj_iri, obj_lexical)` — IRIs and
  * literal lexical forms share one binding domain, mirroring how the
  * fixtures compare term values.
  */
object GraphQuery {

  /** A pattern slot: [[V]], [[C]], or — in the predicate slot only — a [[Path]]. */
  sealed trait Term
  /** Named variable; equal names unify across (and within) patterns. */
  final case class V(name: String) extends Term
  /** Constant IRI or literal lexical form. */
  final case class C(value: String) extends Term

  /** One-pass predicate-frequency stats over a persisted graph: the
    * vocabulary registry bounds distinct preds, so this is a catalog-stat
    * map (dozens of rows), computed with a single partial-agg groupBy and
    * reused across every query against the table.
    */
  def predStats(triples: DataFrame): Map[String, Long] =
    triples.groupBy(col("pred")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** A graph opened for querying: frame + the layout's own bucket count
    * (0 = no pruning) + predicate stats; a bare frame is `PersistedGraph(df, 0, Map.empty)`.
    */
  final case class PersistedGraph(df: DataFrame, predBuckets: Int,
                                  stats: Map[String, Long]) {
    /** The condition selecting the rows of `preds` from the graph (or a
      * frame filtered from it), for every constant-predicate reader: the
      * pushed `pred` filter and, when the graph has the bucket column,
      * their buckets' partition filter (each [[GraphLayout.bucket]] folds
      * to a literal).
      */
    def predSlice(preds: Seq[String]): Column = {
      // a one-element IN optimizes to the pushed EqualTo(pred, p)
      val byPred = col("pred").isin(preds: _*)
      if (predBuckets > 0 && df.columns.contains(GraphLayout.BucketColumn))
        byPred && preds
          .map(p => col(GraphLayout.BucketColumn) === GraphLayout.bucket(lit(p), predBuckets))
          .reduce(_ || _)
      else byPred
    }
  }

  /** Open a persisted graph directory: reads the layout's OWN bucket count,
    * write-time predicate stats AND recorded schema from
    * `_graft_layout.json` ([[GraphLayout]], written by
    * [[ExtractPipeline.writeGraph]] — a mismatched caller-supplied count
    * would silently empty every constant-pred pattern, so the table must
    * describe itself). Opening a graph is a metadata read and a listing,
    * not a Spark job: the stats replace a table scan and the schema the
    * parquet footer-inference job. Goes through the path's own Hadoop
    * FileSystem, so hdfs:// / s3a:// graph dirs work under spark-submit.
    * Each piece degrades on its own: no schema (a layout written before
    * schemas were recorded, a batch dir) infers it with one job; no stats
    * (a batch layout) computes them by the one-pass scan; missing or
    * corrupt metadata (a foreign parquet dir) does both with predBuckets =
    * 0 (correct results, no partition pruning).
    */
  def loadGraph(spark: org.apache.spark.sql.SparkSession, dir: String): PersistedGraph = {
    // corrupt/truncated metadata (e.g. a writer killed mid-write on a
    // filesystem without the rename the writer attempts) degrades exactly
    // like MISSING metadata — the graph must stay queryable; the metadata
    // READ itself may also throw (checksum mismatch on a torn local file)
    val layout = scala.util.Try(GraphLayout.read(spark, dir)).toOption.flatten
    val df = TableIO.default.read(spark, dir, layout.flatMap(_.schema))
    PersistedGraph(df, layout.fold(0)(_.predBuckets),
      layout.flatMap(_.stats).getOrElse(predStats(df)))
  }

  /** Open a SUBJECT-BUCKETED graph table written by
    * [[ExtractPipeline.writeGraphBucketedBySubject]] for querying. The
    * frame comes from `spark.table`, so every pattern compiled from it is a
    * bucketed scan reporting `HashPartitioning(subj, nBuckets)` — and
    * because the pattern projection only ALIASES subj into its binding
    * column, Spark's alias-aware partitioning propagation keeps that
    * distribution through the projection. Subject-star joins (every
    * entity-assembly query: N patterns sharing the subject variable) then
    * satisfy their join distribution straight off the scans: ZERO Exchange
    * in the whole query, at any scale. Joins on non-subject bindings
    * shuffle as usual.
    *
    * Predicate stats come from the table's own [[ExtractPipeline
    * .PredStatsProperty]] catalog property (written at write time, read
    * with [[GraphLayout.parseStats]]); a foreign table without it falls
    * back to the one-pass scan.
    * `predBuckets` is 0 — a bucketed table has no `pred_bucket` partition
    * column; predicate selectivity is served by parquet row-group pushdown
    * on the sorted-within-bucket layout instead.
    */
  def loadBucketedGraph(spark: org.apache.spark.sql.SparkSession,
                        tableName: String): PersistedGraph = {
    val df = spark.table(tableName)
    val stats = scala.util.Try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
      spark.sessionState.catalog.getTableMetadata(ident).properties
        .get(ExtractPipeline.PredStatsProperty).flatMap(GraphLayout.parseStats)
    }.toOption.flatten
    PersistedGraph(df, 0, stats.getOrElse(predStats(df)))
  }

  /** Solve the basic graph pattern over the graph's (subj, pred, obj_iri,
    * obj_lexical, ...) triples; returns one column per distinct variable
    * name, in first-mention order. Pruning and join order use `g`'s bucket
    * count and stats — the table's own, when opened with [[loadGraph]].
    * A pattern whose predicate is a [[Path]] compiles to the path's
    * distinct (s, o) bindings: bound endpoints push into the evaluation,
    * so a `<x> p+ ?y` pattern explores only x's cone.
    */
  def bgp(g: PersistedGraph, patterns: Seq[(Term, Term, Term)]): DataFrame =
    frame(g, solve(g, patterns).distinct())

  /** The plan of [[bgp]] without its final distinct: every solution, once
    * per derivation, with one column per [[varsOf]]. For a side that only
    * feeds a semi- or anti-join, which never multiplies the other side's
    * rows — deduplicating it would buy a shuffle and change no answer.
    */
  private def solve(g: PersistedGraph, patterns: Seq[(Term, Term, Term)]): LogicalPlan = {
    require(patterns.nonEmpty, "empty BGP")
    greedyJoin(patternItems(g, patterns), varsOf(patterns))
  }

  /** The variables of `patterns` in first-mention order: the columns of
    * their solutions, whatever the join order.
    */
  private def varsOf(patterns: Seq[(Term, Term, Term)]): Seq[String] =
    patterns.flatMap(p => Seq(p._1, p._2, p._3)).collect { case V(n) => n }.distinct

  /** `p` as a DataFrame on `g`'s session: a query form's one analysis. */
  private def frame(g: PersistedGraph, p: LogicalPlan): DataFrame =
    PlanBridge.frame(g.df.sparkSession, p)

  /** Each pattern as a [[greedyJoin]] item: its compiled plan, variable
    * names, subject variable (or null) and estimated rows. A path
    * predicate compiles by [[compilePath]] and costs by [[pathEstimate]];
    * its frame is closure or join output, never the bucketed scan, so no
    * subject-star preference applies.
    */
  private def patternItems(g: PersistedGraph, patterns: Seq[(Term, Term, Term)])
      : Seq[(LogicalPlan, Seq[String], String, Long)] = {
    patterns.foreach { p =>
      require(!Seq(p._1, p._3).exists(_.isInstanceOf[Path]),
        s"a property path may only be a pattern's predicate, not its subject or object: $p")
    }
    require(patterns.forall(p => Seq(p._1, p._2, p._3).exists(_.isInstanceOf[V])),
      "variable-free patterns (pure existence checks) are not supported: " +
        "they cannot join on a shared variable — evaluate the constant " +
        "triple separately and gate the query on its result")
    patterns.map {
      case (s, path: Path, o) =>
        val (df, vars) = compilePath(g, s, path, o)
        (df, vars, null, pathEstimate((s, path, o), g.stats))
      case p =>
        val (df, vars) = compile(g, p)
        val subjVar = p._1 match { case V(n) => n; case _ => null }
        (df, vars, subjVar, estimate(p, g.stats))
    }
  }

  /** Selectivity-greedy connected join over pre-compiled pattern plans —
    * the shared core of every query form — projected to
    * `outVars`, NOT deduplicated. Each item is (bindings plan, variable
    * names, subject variable or null, estimated rows); input position
    * breaks cost ties deterministically. The joins are inner using-column
    * joins, projected once.
    */
  private def greedyJoin(items0: Seq[(LogicalPlan, Seq[String], String, Long)],
                         outVars: Seq[String]): LogicalPlan = {
    val items = mutable.ArrayBuffer.from(
      items0.zipWithIndex.map { case ((p, vs, sv, e), i) => (p, vs, sv, e, i) })
    // subject variables of the patterns already joined into acc: at EQUAL
    // estimated cost, a candidate whose SUBJECT variable is one of these is
    // preferred — that join is subject-to-subject, which a subject-bucketed
    // table ([[ExtractPipeline.writeGraphBucketedBySubject]]) satisfies
    // straight off the bucketed scans with no Exchange, and which keeps the
    // accumulated frame partitioned on the star variable so LATER star
    // patterns stay shuffle-free too (a non-subject join in the middle
    // would repartition acc and force the remaining star joins to shuffle
    // back). On a non-bucketed layout the preference is harmless: order
    // between equal-cost patterns was arbitrary (input index) anyway.
    val accSubjVars = mutable.Set.empty[String]
    def takeCheapest(ok: Seq[String] => Boolean): Option[(LogicalPlan, Seq[String], String)] = {
      val cands = items.zipWithIndex.collect {
        case ((p, vs, sv, e, i), pos) if ok(vs) =>
          val starPenalty = if (sv != null && accSubjVars.contains(sv)) 0 else 1
          ((p, vs, sv), (e, starPenalty, i), pos)
      }
      if (cands.isEmpty) None
      else {
        val best = cands.minBy(_._2)
        items.remove(best._3)
        Some(best._1)
      }
    }

    var first = takeCheapest(_ => true).get
    if (first._3 != null) accSubjVars += first._3
    var acc = (first._1, first._2)
    while (items.nonEmpty) {
      val next = takeCheapest(vs => vs.exists(acc._2.contains))
      require(next.isDefined,
        s"disconnected BGP: patterns over ${items.map(_._2).mkString(",")} share no " +
          s"variable with {${acc._2.mkString(",")}} — a cartesian product is refused")
      val (np, nvs, nsv) = next.get
      if (nsv != null) accSubjVars += nsv
      val shared = nvs.filter(acc._2.contains)
      acc = (acc._1.join(np, shared), (acc._2 ++ nvs).distinct)
    }
    acc._1.select(outVars.map(col): _*)
  }

  /** Estimated result rows for one pattern: the predicate's frequency when
    * known (an absent pred estimates 0 — maximally selective, the join
    * empties immediately), the whole table when not, discounted 100× per
    * bound subject/object constant (unknown value distribution — the
    * factor only needs to rank "more constants = fewer rows" consistently,
    * not predict cardinality).
    */
  private[spark] def estimate(p: (Term, Term, Term), stats: Map[String, Long]): Long = {
    val total =
      if (stats.nonEmpty) math.max(stats.valuesIterator.sum, 1L) else Long.MaxValue / 4
    val (base, discounts) = p._2 match {
      case C(v) if stats.nonEmpty =>
        (stats.getOrElse(v, 0L), Seq(p._1, p._3).count(_.isInstanceOf[C]))
      case C(_) => // unknown pred frequency: the constant still discounts
        (total, 1 + Seq(p._1, p._3).count(_.isInstanceOf[C]))
      case _ => (total, Seq(p._1, p._3).count(_.isInstanceOf[C]))
    }
    (0 until discounts).foldLeft(base)((e, _) => if (e > 0) math.max(e / 100, 1L) else 0L)
  }

  /** One pattern → (bindings plan, variable names): one filter and one
    * projection of the graph. A constant predicate filters by the graph's
    * [[PersistedGraph.predSlice]]; the other constants filter as pushable
    * predicates; a variable repeated inside one pattern becomes an
    * equality (e.g. `?x :sameAs ?x`).
    */
  private def compile(g: PersistedGraph, p: (Term, Term, Term)): (LogicalPlan, Seq[String]) = {
    val terms = Seq(p._1, p._2, p._3)
    val consts = terms.zip(Seq[String => Column](v => col("subj") === v, v => g.predSlice(Seq(v)),
      // Triple's object is (obj_iri XOR obj_lexical) — this disjunction
      // is exactly coalesce(obj_iri, obj_lexical) = v, but built from
      // EqualTo/IsNull/Or so it PUSHES to the parquet scan (a coalesce
      // comparison does not)
      v => col("obj_iri") === v || (col("obj_iri").isNull && col("obj_lexical") === v)))
      .collect { case (C(v), cond) => cond(v) }
    val varSlots = Seq(col("subj"), col("pred"), coalesce(col("obj_iri"), col("obj_lexical")))
      .zip(terms).collect { case (c, V(n)) => (c, n) }
    val repeats = varSlots.groupBy(_._2).values.toSeq.flatMap(cs => cs.drop(1).map(_._1 === cs.head._1))
    val names = varSlots.map(_._2).distinct
    val rows = (consts ++ repeats).reduceOption(_ && _).fold(plan(g.df))(plan(g.df).filter)
    (rows.select(names.map(n => varSlots.find(_._2 == n).get._1.as(n)): _*), names)
  }

  /** BGP with OPTIONAL groups (the SPARQL OPTIONAL analog): the required
    * patterns solve as [[bgp]]; each optional group solves as its own BGP
    * and LEFT-joins the accumulated bindings on the shared variables —
    * rows without a match keep their required bindings and surface the
    * group's variables as NULL. Groups left-join in listed order, each
    * seeing bindings from earlier groups (SPARQL's sequential OPTIONAL
    * semantics); a group matching k rows multiplies bindings k-fold, like
    * any join.
    *
    * SPARQL's compatibility rule — an UNBOUND shared variable is
    * compatible with any binding — is honored when a later group joins on
    * a variable an earlier group may have left NULL (the chained idiom
    * `OPTIONAL {?x knows ?y} OPTIONAL {?y name ?n}`): rows whose shared
    * variables are all bound take the plain equi-join; rows where one is
    * NULL join by `IS NULL OR equal` and the match's value fills the
    * binding (coalesce). Per the SPARQL algebra an unbound row is
    * compatible with EVERY group solution and multiplies accordingly —
    * that blow-up is confined to the unbound slice by the split (the
    * bound slice, normally the bulk, stays hash-joined).
    *
    * Scale shape: each side is a full [[bgp]] (pushdown, pruning,
    * selectivity-ordered joins); the left join is a co-partitioned
    * equi-join on the shared binding columns, broadcast when the optional
    * side is selective enough for AQE to see it small; only possibly-NULL
    * rows (post-OPTIONAL leftovers) pay the compatibility join. A group
    * sharing NO variable with the accumulated bindings is refused for the
    * same reason [[bgp]] refuses disconnected patterns.
    */
  def bgpOptional(g: PersistedGraph, required: Seq[(Term, Term, Term)],
                  optionals: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    var acc = solve(g, required).distinct()
    var accVars = varsOf(required)
    // variables an earlier optional group may have left NULL
    val maybeNull = scala.collection.mutable.Set.empty[String]
    optionals.foreach { grp =>
      val opt = solve(g, grp).distinct()
      val optVars = varsOf(grp)
      val shared = optVars.filter(accVars.contains)
      require(shared.nonEmpty,
        s"optional group {${optVars.mkString(",")}} shares no variable " +
          s"with {${accVars.mkString(",")}} — a cartesian product is refused")
      val (nullable, bound) = shared.partition(maybeNull.contains)
      val accOnly = accVars.filterNot(shared.contains)
      val optOnly = optVars.filterNot(shared.contains)
      val outCols = shared ++ accOnly ++ optOnly
      acc =
        if (nullable.isEmpty) acc.join(opt, shared, "left")
        else {
          val allBound = nullable.map(col(_).isNotNull).reduce(_ && _)
          // bound slice: plain equi left join (hash-joinable, the bulk)
          val boundSide = acc.filter(allBound).join(opt, shared, "left")
            .select(outCols.map(col): _*)
          // unbound slice: compatibility join — NULL matches anything and
          // takes the match's binding; confined to post-OPTIONAL leftovers
          val cond = (bound.map(c => col(s"gq_a.$c") === col(s"gq_o.$c")) ++
            nullable.map(c =>
              col(s"gq_a.$c").isNull || col(s"gq_a.$c") === col(s"gq_o.$c")))
            .reduce(_ && _)
          val nullSide = acc.filter(!allBound).as("gq_a")
            .join(opt.as("gq_o"), cond, "left")
            .select(bound.map(c => col(s"gq_a.$c").as(c)) ++
              nullable.map(c =>
                coalesce(col(s"gq_a.$c"), col(s"gq_o.$c")).as(c)) ++
              accOnly.map(c => col(s"gq_a.$c").as(c)) ++
              optOnly.map(c => col(s"gq_o.$c").as(c)): _*)
            .select(outCols.map(col): _*)
          boundSide.unionByName(nullSide)
        }
      accVars = outCols
      // the group's new variables are NULL on unmatched rows; nullable
      // shared variables stay possibly-NULL (unmatched rows keep NULL
      // through the coalesce)
      maybeNull ++= optOnly
    }
    // variables surface in first-mention order across required + optional
    // groups (a using-columns join reorders; the API shouldn't)
    frame(g, acc.select(varsOf(required ++ optionals.flatten).map(col): _*))
  }

  /** ASK — does the pattern set have at least one solution? (The SPARQL
    * ASK query form.) Planned as the BGP with a LIMIT 1 on top: Spark's
    * CollectLimit short-circuits — tasks stop as soon as one row
    * surfaces, so a satisfied ASK over a selective pattern reads one
    * pruned slice and exits, never the full solution set.
    */
  def ask(g: PersistedGraph, patterns: Seq[(Term, Term, Term)]): Boolean =
    frame(g, solve(g, patterns).distinct().limit(1)).collect().nonEmpty

  /** CONSTRUCT — build new triples from a template over the BGP's
    * solutions (the SPARQL CONSTRUCT query form, and the light-weight
    * rule-application path: "wherever this shape matches, assert these
    * edges" without running the full entailment fixpoint). Template slots
    * are [[C]] constants or [[V]] variables bound by the patterns (a
    * [[Path]] is refused: it is no term a triple can carry); output
    * is a distinct (subj, pred, obj) edge frame (set semantics, like any
    * graph). A term bound to a literal surfaces by its lexical form —
    * callers constructing typed-literal graphs should keep literals in
    * object position and join back to the source for datatypes.
    *
    * Scale shape: one projection over the solved BGP plus the distinct
    * that set semantics require — no joins beyond the BGP's own.
    */
  def construct(g: PersistedGraph, patterns: Seq[(Term, Term, Term)],
                template: Seq[(Term, Term, Term)]): DataFrame = {
    require(template.nonEmpty, "empty CONSTRUCT template")
    val bindings = solve(g, patterns).distinct()
    val vars = varsOf(patterns)
    def slot(t: Term, name: String): Column = t match {
      case C(v) => lit(v).as(name)
      case V(n) =>
        require(vars.contains(n),
          s"template variable ?$n is not bound by the patterns {${vars.mkString(",")}}")
        col(n).as(name)
      case p: Path =>
        throw new IllegalArgumentException(
          s"a property path cannot be a CONSTRUCT template term: ${render(p)}")
    }
    frame(g, template.map { case (s, p, o) =>
      bindings.select(slot(s, "subj"), slot(p, "pred"), slot(o, "obj"))
    }.reduce(_ unionByName _).distinct())
  }

  /** BGP difference (the SPARQL MINUS analog): solutions of the required
    * patterns with every row removed for which some minus-group solution
    * agrees on the shared variables. Each group solves as its own [[bgp]]
    * and applies as a LEFT ANTI join on the shared binding columns — the
    * negation never materializes a product. A group sharing NO variable
    * with the accumulated bindings removes NOTHING (SPARQL's MINUS
    * disjoint-domain rule — unlike [[bgpOptional]], where a disconnected
    * group would mean a cartesian and is refused, here the spec'd
    * semantics are already safe).
    *
    * Scale shape: anti-joins shuffle on the shared binding columns like
    * any equi-join, and AQE broadcasts a selective minus side; the minus
    * group's own patterns push/prune independently. A minus group is not
    * deduplicated: an anti-join removes a row whether one solution agrees
    * with it or many.
    */
  def bgpMinus(g: PersistedGraph, required: Seq[(Term, Term, Term)],
               minusGroups: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    val vars = varsOf(required)
    frame(g, minusGroups.foldLeft(solve(g, required).distinct()) { (acc, grp) =>
      val shared = varsOf(grp).filter(vars.contains)
      if (shared.nonEmpty) acc.join(solve(g, grp), shared, "left_anti") else acc
    })
  }

  /** DESCRIBE — assemble every stored triple about the entities a BGP
    * selects (the SPARQL DESCRIBE analog, and the entity-assembly access
    * path a KG serves most: "give me everything we know about X"). Solves
    * `patterns` as a [[bgp]], projects the bindings of
    * `entityVar`, and semi-joins the triple table on subject — full triple
    * rows (obj_iri/obj_lexical/obj_datatype/obj_lang preserved) come back,
    * not just the pattern's bindings.
    *
    * Scale shape: the selector BGP pushes/prunes as always; the entity set
    * it yields is selective by construction (that's why the caller wrote
    * patterns), so the semi-join broadcasts the SMALL entity side under
    * AQE while the big triple table streams map-side — no full-table
    * shuffle. On a subject-bucketed table ([[loadBucketedGraph]]) the
    * subj semi-join additionally inherits the bucketed distribution. The
    * selector's bindings and the entity set are not deduplicated: a
    * semi-join keeps a triple once however many times its entity is bound.
    */
  def describe(g: PersistedGraph, patterns: Seq[(Term, Term, Term)],
               entityVar: String): DataFrame = {
    require(varsOf(patterns).contains(entityVar),
      s"describe variable ?$entityVar is not bound by the patterns " +
        s"{${varsOf(patterns).mkString(",")}}")
    val entities = solve(g, patterns).select(col(entityVar).as("subj"))
    // of the triple columns, keep those the frame actually carries (a
    // persisted graph has all six; a bare test frame may carry four) —
    // layout columns like pred_bucket stay internal
    val cols = Seq("subj", "pred", "obj_iri", "obj_lexical",
      "obj_datatype", "obj_lang").filter(g.df.columns.contains)
    // set semantics like [[bgp]]: a lineage-keeping table stores one row
    // per witness turn; the DESCRIBED graph is a set of triples
    frame(g, plan(g.df).join(entities, Seq("subj"), "left_semi")
      .select(cols.map(col): _*).distinct())
  }

  /** UNION of basic graph patterns (the SPARQL UNION analog): each branch
    * solves as its own [[bgp]] — full pushdown, pruning and join ordering
    * per branch — and the branch results union under set semantics. A
    * variable bound in only SOME branches surfaces as NULL in the others
    * (SPARQL's unbound), with columns in first-mention order across
    * branches.
    *
    * Scale shape: a union of independently-planned subqueries — Spark
    * unions are metadata-only (no shuffle); the one shuffle this operator
    * adds is the final distinct on the binding columns, which SPARQL's set
    * semantics require. Branches prune/push independently, so a union of
    * two selective constant-pred branches reads two pruned slices, never
    * the whole graph.
    */
  def bgpUnion(g: PersistedGraph, branches: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    require(branches.nonEmpty, "empty UNION")
    // allowMissingColumns NULL-fills branch-unbound variables and keeps
    // first-mention column order across the reduce — every binding column
    // is a string, so the filled NULLs type consistently
    frame(g, branches.map(b => solve(g, b).distinct())
      .reduce(_.unionByName(_, allowMissingColumns = true)).distinct())
  }

  /** Transitive property path `pred+` (the SPARQL OneOrMorePath analog —
    * the RDF.rb Queryable role [[bgp]] fills covers only single-hop
    * patterns; reference expansion.rb's rule loop is the same "derive
    * until nothing new" shape over different rules): distinct
    * `(subj, obj)` pairs connected by one or more `pred` edges.
    *
    * DOMAIN: IRI-node edges only (`obj_iri`) — the closure-utility shape
    * its consumers need (reachability, incremental maintenance over
    * (s, o) pair tables). Literal-TERMINAL paths are out of this
    * operator's domain: the path-algebra evaluator ([[evalPath]] on
    * `Plus(P(pred))`, the CLI's `pred+`) includes them. Entailment's
    * prp-trp does not use this operator: it is a rule of
    * [[Entailment.owlEntail]]'s own fixpoint, literal terminals included.
    *
    * Spark-first shape, scaled for a 100-TB graph:
    *  - the edge slice is a constant-predicate scan — the pushed
    *    `pred = <lit>` filter plus `pred_bucket` partition pruning on a
    *    [[ExtractPipeline.writeGraph]] layout mean the job reads the ONE
    *    predicate's partition, never the whole graph;
    *  - SEMI-NAIVE frontier expansion (same discipline as
    *    [[Entailment.owlEntail]]): iteration i joins only the previous
    *    DELTA against the edge slice (a co-partitioned equi-join on the
    *    hop column), never re-deriving from the accumulated closure, so
    *    per-iteration cost is O(|Δ ⋈ E|), not O(|closure|²);
    *  - novelty is a `left_anti` against the union of CHECKPOINTED
    *    accepted deltas (disjoint by construction — plain unions, shallow
    *    lineage, no growing-plan recompute);
    *  - iterations = graph diameter (log₂ N on a management tree); cycles
    *    terminate naturally — a cyclic hop re-derives only seen pairs and
    *    the anti-join empties the frontier.
    *
    * Hitting the 64-round iteration cap with a live frontier THROWS: a
    * silently truncated closure is wrong answers, not a degraded mode.
    */
  def pathPlus(g: PersistedGraph, pred: String): DataFrame =
    pathPlusAlt(g, Seq(pred))

  /** `(p1|p2|…)+` — transitive closure over the UNION of several
    * predicates' edge slices (the SPARQL alternation-under-closure path,
    * e.g. `(reportsTo|managedBy)+`): a hop may take any listed predicate.
    * Same semi-naive machinery as the single-predicate form; the edge
    * slice is one [[PersistedGraph.predSlice]] scan: a pushed `pred IN
    * (…)`, pruned to the predicates' buckets.
    */
  def pathPlusAlt(g: PersistedGraph, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "empty predicate alternation")
    // no distinct here: closure dedups its input itself — a second
    // Deduplicate would cost a redundant full shuffle of the edge slice.
    // The stats count the predicates' literal-object rows too: an upper
    // bound of the slice, which is all admission needs
    val edges = plan(g.df).filter(g.predSlice(preds) && col("obj_iri").isNotNull)
      .select(col("subj").as("s"), col("obj_iri").as("o"))
    closure(g.df.sparkSession, edges, None, preds.mkString("|"),
      sliceRows(g, Path.Alt(preds.map(Path.P))))
  }

  /** Transitive closure of a bare (s, o) edge frame — [[pathPlus]] without
    * the predicate-slice front end, for callers that already hold edges
    * (entity-link outputs, diff batches). Same semi-naive machinery and
    * the same THROW on a live frontier at the iteration cap.
    */
  def closePairs(edges: DataFrame): DataFrame =
    closure(edges.sparkSession, plan(edges), None, "closePairs")

  /** INCREMENTAL transitive-closure maintenance — the path twin of
    * [[Entailment.owlEntailIncremental]]: given the CLOSED pair set of a
    * relation (a [[pathPlus]]/[[closePairs]] output, columns (s, o)) and a
    * batch of NEW hop edges, return the closure of (old ∪ new) while
    * exploring only paths that USE a new edge.
    *
    * Every genuinely new pair decomposes as `C? ∘ (Δ ∘ (C ∪ Δ)*)` — any
    * old-edge subpath collapses to ONE closed pair because C is already
    * transitively closed. So: a semi-naive right-extension seeded at Δ
    * over the edge set C ∪ Δ (suffix paths alternate single C-pairs and
    * Δ-hops), then ONE prefix join with C. Per-batch cost scales with the
    * delta's reachability cone, never the standing closure — the
    * continuously-maintained-KG shape at 100 TB.
    */
  def pathPlusIncremental(closedPairs: DataFrame, newEdges: DataFrame): DataFrame = {
    val (c, closedSize) = ExtractPipeline.checkpointCounted(closedPairs.select(col("s"), col("o")))
    val d = newEdges.select(col("s"), col("o")).distinct()
    // admitted on the standing closure's size alone: the delta is unsized
    // until the task reads it, where the kernel's seed cap bounds it — so
    // the hop rows (closure plus delta) need no cap of their own
    closureStrategy(c.sparkSession, "GraphQuery.pathPlusIncremental", closedSize,
        tagged(plan(c), Hop | Prefix).unionByName(tagged(plan(d), Hop | Seed)),
        doubling = false, "pathPlusIncremental", capHops = false) {
      val suffix = closure(c.sparkSession, plan(c.union(d)), Some(plan(d)), "pathPlusIncremental")
        .localCheckpoint()
      val prefixed = c.as("pc").join(suffix.as("px"), col("pc.o") === col("px.s"))
        .select(col("pc.s").as("s"), col("px.o").as("o"))
      c.union(suffix).union(prefixed).distinct()
    }
  }

  /** The iteration cap of both closure strategies: a live frontier after
    * this many rounds THROWS rather than return a truncated closure. A
    * full closure doubles the covered path length per round; a seeded one
    * (a bound endpoint, an incremental delta) extends it by one hop.
    */
  private final val MaxIterations = 64

  // row tags of the closure kernel's input (bit flags)
  private final val Hop = 1 // a traversable (s, o) edge
  private final val Seed = 2 // a starting pair of the expansion
  private final val Prefix = 4 // a standing closed pair: kept, and prefix-joined onto the expansion

  private def tagged(pairs: LogicalPlan, tag: Int): LogicalPlan =
    pairs.select(lit(tag).as("t"), col("s"), col("o"))

  /** Transitive closure of `edgesIn` — the shared fixpoint core of
    * [[pathPlusAlt]], [[closePairs]] and the [[Path.Plus]]/[[Path.Star]]
    * cases of [[evalPath]]. FULL (`seed` None): every edge seeds and
    * rounds double the covered path length. SEEDED: one-hop expansion from
    * the seed pairs only — a bound-endpoint `<x> p+ ?y` query explores x's
    * reachable cone, never the whole graph's closure (composing a cone
    * slice with a full closure would drag in pairs outside the cone).
    * Hitting `MaxIterations` with a live frontier THROWS on either
    * strategy — a silently truncated closure is wrong answers, not a
    * degraded mode.
    *
    * `edgeRows` is the edge frame's row count when the caller knows it
    * from a layout's stats ([[sliceRows]]): the call is then admitted on
    * it with no job at all, and the one task reads `edgesIn` — a pushed,
    * pruned scan — directly. Stats can be stale or belong to another
    * table, so the task counts the hop rows it reads and overflows past
    * the edge limit: an oversized slice still ends in the distributed
    * body, never in one task. Without it, the edges are deduplicated and
    * materialized first, their count observed on that same job.
    */
  private def closure(spark: SparkSession, edgesIn: LogicalPlan, seed: Option[LogicalPlan],
                      what: String, edgeRows: Option[Long] = None): DataFrame = {
    val doubling = seed.isEmpty
    val engine = s"GraphQuery.closure[$what]"
    val e = edgesIn.select(col("s"), col("o"))
    val seeds = seed.map(_.select(col("s"), col("o")))
    def input(edges: LogicalPlan, starts: Option[LogicalPlan]): LogicalPlan =
      starts.fold(tagged(edges, Hop | Seed))(sd => tagged(edges, Hop).unionByName(tagged(sd, Seed)))
    def distinctFrame(p: LogicalPlan) = PlanBridge.frame(spark, p.distinct())
    // the distributed loop reads edges and seeds every round: dedup and
    // materialize them once (callers skip their own distinct)
    def distributed(edges: DataFrame): DataFrame =
      closureLoop(edges, seeds.fold(edges)(distinctFrame(_).localCheckpoint()), doubling, what)
    edgeRows match {
      case Some(n) =>
        closureStrategy(spark, engine, n, input(e, seeds), doubling, what) {
          distributed(distinctFrame(e).localCheckpoint())
        }
      case None =>
        val (edges, n) = ExtractPipeline.checkpointCounted(distinctFrame(e))
        closureStrategy(spark, engine, n, input(plan(edges), seeds.map(_.distinct())), doubling,
          what)(distributed(edges))
    }
  }

  /** One closure call through [[AdaptiveStrategy.run]]: `input` holds the
    * tagged (t, s, o) rows [[closureKernel]] reads; with `capHops` the task
    * overflows past the edge limit's worth of hop rows.
    */
  private def closureStrategy(spark: SparkSession, engine: String, size: Long, input: LogicalPlan,
                              doubling: Boolean, what: String,
                              capHops: Boolean = true)
                             (distributed: => DataFrame): DataFrame = {
    import spark.implicits._
    val l = AdaptiveStrategy.limits
    val maxHops = if (capHops) l.closureEdges else Long.MaxValue
    AdaptiveStrategy.run(engine, size, l.closureEdges, frameAs[(Int, String, String)](spark, input))(
      closureKernel(_, doubling, maxHops, l.closureEdges, l.closurePairs, what))(
      distributed.as[(String, String)]).toDF("s", "o")
  }

  /** The in-memory closure kernel over tagged (t, s, o) rows: semi-naive
    * expansion from the SEED pairs over the HOP edges. With `doubling` the
    * accepted novel pairs join the adjacency after each round, so the next
    * round composes against the closure so far — the same round semantics
    * as [[closureLoop]], so the `MaxIterations` contract agrees across
    * strategies. PREFIX pairs C (the incremental case) finish the result as
    * `C ∪ X ∪ (C ∘ X)` over the expansion X. Traversal never continues
    * through a NULL hop node, matching the SQL equi-joins' null rejection
    * (null-endpoint pairs still surface — they just extend nothing).
    *
    * Caps are checked as each row or pair is added, so a dense graph
    * overflows before a round's derivations accumulate: more than
    * `maxHops` hop rows (a stats-admitted slice is unsized until here),
    * `maxSeeds` seed pairs (an incremental delta is too) or `maxPairs`
    * pairs throws [[AdaptiveStrategy.overflow]].
    */
  private def closureKernel(rows: Iterator[(Int, String, String)], doubling: Boolean,
                            maxHops: Long, maxSeeds: Long, maxPairs: Long,
                            what: String): Iterator[(String, String)] = {
    type Index = java.util.HashMap[String, mutable.ArrayBuffer[String]]
    def link(m: Index, k: String, v: String): Unit = {
      var buf = m.get(k)
      if (buf == null) { buf = mutable.ArrayBuffer.empty[String]; m.put(k, buf) }
      buf += v
    }
    val adj = new Index()
    val prefix = mutable.ArrayBuffer.empty[(String, String)]
    val seen = mutable.HashSet.empty[(String, String)]
    def add(p: (String, String), into: mutable.ArrayBuffer[(String, String)]): Unit =
      if (seen.add(p)) {
        into += p
        if (seen.size > maxPairs) AdaptiveStrategy.overflow()
      }
    var delta = mutable.ArrayBuffer.empty[(String, String)]
    var hops = 0L
    rows.foreach { case (t, s, o) =>
      if ((t & Hop) != 0) {
        hops += 1
        if (hops > maxHops) AdaptiveStrategy.overflow()
        link(adj, s, o)
      }
      if ((t & Prefix) != 0) prefix += ((s, o))
      if ((t & Seed) != 0) {
        add((s, o), delta)
        if (seen.size > maxSeeds) AdaptiveStrategy.overflow()
      }
    }
    var iter = 0
    while (delta.nonEmpty && iter < MaxIterations) {
      iter += 1
      val next = mutable.ArrayBuffer.empty[(String, String)]
      delta.foreach { case (s, o) =>
        val outs = if (o == null) null else adj.get(o)
        if (outs != null) outs.foreach(o2 => add((s, o2), next))
      }
      if (doubling) next.foreach { case (s, o) => link(adj, s, o) }
      delta = next
    }
    if (delta.nonEmpty) throw new IllegalStateException(liveFrontier(what))
    if (prefix.isEmpty) seen.iterator
    else {
      val byObj = new Index()
      prefix.foreach { case (s, o) => link(byObj, o, s) }
      val out = mutable.HashSet.empty[(String, String)]
      out ++= prefix
      out ++= seen
      seen.foreach { case (xs, xo) =>
        val pres = if (xs == null) null else byObj.get(xs)
        if (pres != null) pres.foreach { cs =>
          out.add((cs, xo))
          if (out.size > maxPairs) AdaptiveStrategy.overflow()
        }
      }
      out.iterator
    }
  }

  /** The distributed closure loop: each round joins the last round's NOVEL
    * pairs (delta) against the hop relation — the EDGES for a seeded
    * closure (one-hop semi-naive, per-round cost O(|Δ ⋈ E|)), the closure
    * SO FAR for a full one. Novelty is a left-anti against `seen`, the
    * union of checkpointed accepted deltas (disjoint by construction —
    * shallow lineage, no growing-plan recompute); cycles terminate
    * naturally.
    *
    * Full closure is semi-naive PATH DOUBLING (the "smart" TC of
    * Valduriez & Boral / Ioannidis: `T_{k+1} = T_k ∪ (Δ_k ∘ T_k)`), so
    * the covered path length doubles per round — ceil(log₂ d) + 1 rounds
    * for diameter d, against d rounds of one-hop expansion. Correctness of
    * the semi-naive restriction: a pair whose shortest path length L lands
    * in (2^{k-1}, 2^k] splits at its midpoint into a prefix that was NOVEL
    * in round k−1 and a suffix already in the closure, so `Δ ∘ closure`
    * derives every new pair. Trade-off: each round shuffles the
    * accumulated closure instead of the edge slice, and a pair with many
    * midpoints is derived once per midpoint before the distinct; what it
    * buys is rounds — every round is a shuffle barrier whose scheduler
    * floor is paid serially, and the long-diameter closures this engine
    * runs (org trees, crawl chains) pay log₂ d barriers instead of d.
    */
  private def closureLoop(edges: DataFrame, seed: DataFrame, doubling: Boolean,
                          what: String): DataFrame = {
    var seen = seed
    var delta = seed
    var frontierLive = !delta.isEmpty
    var iter = 0
    while (iter < MaxIterations && frontierLive) {
      iter += 1
      // renamed projections, not aliases: a doubling round 1 composes
      // `seen` with ITSELF, and the anti-join's left side derives from
      // `seen` too — alias-based column refs cannot disambiguate a true
      // self-join
      val hop = (if (doubling) seen else edges).select(col("s").as("h_s"), col("o").as("h_o"))
      val novel = delta.join(hop, col("o") === col("h_s"))
        .select(col("s"), col("h_o").as("o"))
        .distinct()
        // null-safe: a pair with a NULL endpoint (it extends nothing, but
        // surfaces) must match itself, or it stays "novel" every round
        .join(seen.select(col("s").as("a_s"), col("o").as("a_o")),
          col("s") <=> col("a_s") && col("o") <=> col("a_o"), "left_anti")
        .select(col("s"), col("o"))
        .localCheckpoint()
      delta = novel
      // one emptiness probe per round (the while-condition reuses it)
      frontierLive = !novel.isEmpty
      // accepted deltas are disjoint and individually checkpointed, so the
      // running union stays shallow-lineage and duplicate-free
      if (frontierLive) seen = seen.union(novel)
    }
    if (frontierLive) throw new IllegalStateException(liveFrontier(what))
    seen
  }

  private def liveFrontier(what: String): String =
    s"path closure ($what) frontier still live after $MaxIterations iterations " +
      "— a truncated closure would be silently wrong"

  // --------------------------------------------------------------------
  // SPARQL 1.1 property-path algebra
  // --------------------------------------------------------------------

  /** A property-path expression (the SPARQL 1.1 path algebra — reference
    * role: rdf-microdata emits graphs INTO RDF.rb, whose SPARQL engine
    * serves path queries over them; here the engine itself is Spark).
    * Build with the constructors in [[Path]]; evaluate with [[evalPath]]
    * or put it in a pattern's predicate slot, where every query form
    * ([[bgp]] and the rest) solves it.
    */
  sealed trait Path extends Term
  object Path {
    /** Atomic predicate step `p` — one forward edge. The object may be an
      * IRI or a literal (a literal can TERMINATE a path but never continues
      * it: literals are never subjects).
      */
    final case class P(iri: String) extends Path
    /** Inverse `^p` — traverses object→subject. */
    final case class Inv(p: Path) extends Path
    /** Sequence `p1/p2/…` — each step starts where the previous ended. */
    final case class Chain(ps: Seq[Path]) extends Path
    /** Alternation `p1|p2|…` — a step may take any branch. */
    final case class Alt(ps: Seq[Path]) extends Path
    /** One-or-more `p+` — transitive closure (semi-naive fixpoint). */
    final case class Plus(p: Path) extends Path
    /** Zero-or-more `p*` — [[Plus]] plus the zero-length pairs. */
    final case class Star(p: Path) extends Path
    /** Zero-or-one `p?` — one step or the zero-length pairs. */
    final case class Opt(p: Path) extends Path
    /** Negated property set `!(p1|…|^q1|…)` (SPARQL splits the set by
      * direction): a `forward=Some(ex)` side matches ONE forward edge whose
      * predicate is NOT in `ex`; an `inverse=Some(ex)` side matches one
      * inverse edge likewise; a side left `None` matches nothing in that
      * direction. `NegSet(Some(Nil))` is the forward wildcard (any one
      * edge). A negated set scans every predicate BUT the listed ones, so
      * `pred_bucket` pruning does not apply — by nature, not omission.
      */
    final case class NegSet(forward: Option[Seq[String]],
                            inverse: Option[Seq[String]] = None) extends Path {
      require(forward.isDefined || inverse.isDefined,
        "NegSet with neither direction matches nothing — give forward and/or inverse exclusions")
    }
    /** `!(iris…)` — any one forward edge whose predicate is none of `iris`. */
    def notOneOf(iris: String*): NegSet = NegSet(Some(iris))
    /** Any one forward edge, whatever its predicate. */
    val wildcard: NegSet = NegSet(Some(Nil))
  }

  /** Human-readable SPARQL-ish rendering (error messages, logs). */
  def render(p: Path): String = p match {
    case Path.P(iri) => s"<$iri>"
    case Path.Inv(q) => s"^${render(q)}"
    case Path.Chain(ps) => ps.map(render).mkString("(", "/", ")")
    case Path.Alt(ps) => ps.map(render).mkString("(", "|", ")")
    case Path.Plus(q) => render(q) + "+"
    case Path.Star(q) => render(q) + "*"
    case Path.Opt(q) => render(q) + "?"
    case Path.NegSet(f, i) =>
      val names = f.getOrElse(Nil).map(x => s"<$x>") ++
        i.getOrElse(Nil).map(x => s"^<$x>")
      s"!(${names.mkString("|")})"
  }

  /** Evaluate a property path to its distinct (s, o) pairs over the whole
    * graph. For bound-endpoint evaluation (`<x> path ?y`), prefer a
    * [[bgp]] path pattern with a constant term — closures then explore only
    * the reachable cone instead of materializing the full closure.
    *
    * Scale shape: atomic steps are pushed constant-pred scans with
    * `pred_bucket` partition pruning on a [[ExtractPipeline.writeGraph]]
    * layout; [[Path.Inv]] is a column swap (free); [[Path.Chain]] is a
    * chain of co-partitioned equi-joins on the hop node; [[Path.Alt]] is a
    * metadata-only union of independently-pruned scans; [[Path.Plus]] runs
    * the [[closure]] fixpoint. [[Path.Star]]/[[Path.Opt]] with
    * BOTH endpoints unbound must emit the zero-length pair of every graph
    * node (SPARQL's ZeroLengthPath) — a full node-set scan; bind an
    * endpoint when you don't need that.
    */
  def evalPath(g: PersistedGraph, path: Path): DataFrame =
    frame(g, pathFrame(g, path, None, None).distinct())

  /** Atomic forward edges for one predicate: its
    * [[PersistedGraph.predSlice]], object coalesced to one term domain.
    * The coalesce matches the BGP engine's string-typed binding columns
    * (literal-terminal paths bind their lexical form). Known limitation of
    * the string domain: a literal whose lexical form EQUALS an IRI in the
    * graph is indistinguishable from it at a chaining join — exact typed
    * paths would carry a term-kind column through every binding frame.
    */
  private def atomEdges(g: PersistedGraph, iri: String): LogicalPlan =
    plan(g.df).filter(g.predSlice(Seq(iri))).select(col("subj").as("s"),
      coalesce(col("obj_iri"), col("obj_lexical")).as("o"))

  /** Rows of the edge frame [[pathFrame]] builds for `p`, from the
    * layout's stats: exact for an atom (its slice is that predicate's
    * rows), an inverse of one (the same rows, swapped) and an alternation
    * of such (a union of slices). None when the graph carries no stats or
    * `p` joins, negates or closes — then only a count can size it.
    */
  private def sliceRows(g: PersistedGraph, p: Path): Option[Long] = p match {
    case _ if g.stats.isEmpty => None
    case Path.P(iri) => Some(g.stats.getOrElse(iri, 0L))
    case Path.Inv(q) => sliceRows(g, q)
    case Path.Alt(ps) =>
      ps.foldLeft(Option(0L))((acc, q) => acc.flatMap(a => sliceRows(g, q).map(a + _)))
    case _ => None
  }

  /** Zero-length pairs (SPARQL ZeroLengthPath): a bound endpoint matches
    * itself; both unbound matches every node occurring in the graph
    * (subjects ∪ objects — one distinct over two projected scans).
    */
  private def zeroLength(g: PersistedGraph, src: Option[String],
                         dst: Option[String]): LogicalPlan = {
    def one(n: Long) = plan(g.df.sparkSession.range(n))
    (src, dst) match {
      case (Some(a), Some(b)) => one(if (a == b) 1 else 0).select(lit(a).as("s"), lit(b).as("o"))
      case (Some(a), None) => one(1).select(lit(a).as("s"), lit(a).as("o"))
      case (None, Some(b)) => one(1).select(lit(b).as("s"), lit(b).as("o"))
      case (None, None) =>
        plan(g.df).select(col("subj").as("n"))
          .unionByName(plan(g.df).select(
            coalesce(col("obj_iri"), col("obj_lexical")).as("n")))
          .distinct()
          .select(col("n").as("s"), col("n").as("o"))
    }
  }

  /** Recursive path evaluation to an (s, o) plan (not necessarily
    * distinct — [[evalPath]]/[[compilePath]] add the final distinct); a
    * closure wraps its edge plan in a Dataset and its result is a leaf.
    * `src`/`dst` are endpoint CONSTANTS pushed as deep as the algebra
    * allows: into both sides of [[Path.Alt]], the outer steps of a
    * [[Path.Chain]], the swapped slots of [[Path.Inv]], and the closure
    * SEED of [[Path.Plus]]/[[Path.Star]] (single-source semi-naive — the
    * reachable cone, never the full closure).
    */
  private def pathFrame(g: PersistedGraph, path: Path, src: Option[String],
                        dst: Option[String]): LogicalPlan = {
    def bound(p: LogicalPlan): LogicalPlan =
      (src.map(col("s") === _) ++ dst.map(col("o") === _)).reduceOption(_ && _).fold(p)(p.filter)
    path match {
      case Path.P(iri) => bound(atomEdges(g, iri))

      case Path.NegSet(fwd, inv) =>
        def base(ex: Seq[String]) =
          if (ex.isEmpty) plan(g.df) else plan(g.df).filter(!col("pred").isin(ex: _*))
        val fw = fwd.map { ex =>
          base(ex).select(col("subj").as("s"),
            coalesce(col("obj_iri"), col("obj_lexical")).as("o"))
        }
        val iv = inv.map { ex =>
          base(ex).select(coalesce(col("obj_iri"), col("obj_lexical")).as("s"),

            col("subj").as("o"))
        }
        bound((fw.toSeq ++ iv.toSeq).reduce(_ unionByName _))

      case Path.Inv(p) =>
        pathFrame(g, p, dst, src)
          .select(col("o").as("s"), col("s").as("o"))

      case Path.Chain(ps) =>
        require(ps.nonEmpty, "empty path sequence")
        if (ps.size == 1) pathFrame(g, ps.head, src, dst)
        else {
          val frames = ps.zipWithIndex.map { case (q, i) =>
            pathFrame(g, q, if (i == 0) src else None, if (i == ps.size - 1) dst else None)
              .distinct()
          }
          frames.reduce { (a, b) =>
            a.as("pl").join(b.as("pr"), col("pl.o") === col("pr.s"), "inner")
              .select(col("pl.s").as("s"), col("pr.o").as("o"))
          }
        }

      case Path.Alt(ps) =>
        require(ps.nonEmpty, "empty path alternation")
        ps.map(pathFrame(g, _, src, dst)).reduce(_ unionByName _)

      case Path.Plus(p) =>
        // closure dedups the edges when it needs them distinct
        val edges = pathFrame(g, p, None, None)
        def close(e: LogicalPlan, seed: Option[LogicalPlan]) =
          plan(closure(g.df.sparkSession, e, seed, render(path), sliceRows(g, p)))
        (src, dst) match {
          case (Some(v), d) =>
            val cone = close(edges, Some(edges.filter(col("s") === v)))
            d.map(w => cone.filter(col("o") === w)).getOrElse(cone)
          case (None, Some(w)) => // single-TARGET: explore the reverse cone
            val rev = edges.select(col("o").as("s"), col("s").as("o"))
            close(rev, Some(rev.filter(col("s") === w))).select(col("o").as("s"), col("s").as("o"))
          case _ => close(edges, None)
        }

      case Path.Star(p) =>
        pathFrame(g, Path.Plus(p), src, dst)
          .unionByName(zeroLength(g, src, dst))

      case Path.Opt(p) =>
        pathFrame(g, p, src, dst)
          .unionByName(zeroLength(g, src, dst))
    }
  }

  /** One path pattern → (bindings plan, variable names), the path twin of
    * [[compile]]: constant endpoints push into [[pathFrame]] (closures
    * explore only the bound cone); a repeated variable (`?x path ?x`)
    * becomes an equality filter. [[patternItems]] has already refused a
    * path endpoint and a pattern without a variable.
    */
  private def compilePath(g: PersistedGraph, sTerm: Term, path: Path,
                          oTerm: Term): (LogicalPlan, Seq[String]) = {
    val src = sTerm match { case C(v) => Some(v); case _ => None }
    val dst = oTerm match { case C(v) => Some(v); case _ => None }
    val df = pathFrame(g, path, src, dst).distinct()
    (sTerm, oTerm) match {
      case (V(a), V(b)) if a == b =>
        (df.filter(col("s") === col("o")).select(col("s").as(a)), Seq(a))
      case (V(a), V(b)) => (df.select(col("s").as(a), col("o").as(b)), Seq(a, b))
      case (V(a), _) => (df.select(col("s").as(a)), Seq(a))
      case (_, V(b)) => (df.select(col("o").as(b)), Seq(b))
      case _ => throw new IllegalArgumentException(s"no variable in path pattern $sTerm ${render(path)} $oTerm")
    }
  }

  /** Estimated result rows for a path pattern — a RANKING heuristic for
    * the greedy join order, same contract as [[estimate]] (consistent
    * ordering, not cardinality prediction): atoms cost their predicate
    * frequency, a sequence its narrowest step, an alternation the branch
    * sum, a closure 4× its edge slice, zero-length forms add the node-set
    * term; each bound endpoint discounts 100×.
    */
  private[spark] def pathEstimate(p: (Term, Path, Term),
                                  stats: Map[String, Long]): Long = {
    val total =
      if (stats.nonEmpty) math.max(stats.valuesIterator.sum, 1L) else Long.MaxValue / 4
    val cap = Long.MaxValue / 4
    def go(q: Path): Long = q match {
      case Path.P(iri) => if (stats.nonEmpty) stats.getOrElse(iri, 0L) else total
      case Path.Inv(r) => go(r)
      case Path.Chain(ps) => ps.map(go).min
      case Path.Alt(ps) => // saturating sum: the no-stats sentinel is cap-sized
        ps.map(go).foldLeft(0L)((a, b) => if (a > cap - b) cap else a + b)
      case Path.Plus(r) => math.min(go(r), cap / 4) * 4
      case Path.Star(r) => math.min(math.min(go(r), cap / 4) * 4 + math.min(total, cap / 2), cap)
      case Path.Opt(r) => if (go(r) > cap - total) cap else go(r) + total
      case Path.NegSet(_, _) => total
    }
    val consts = Seq(p._1, p._3).count(_.isInstanceOf[C])
    (0 until consts).foldLeft(go(p._2))((e, _) => if (e > 0) math.max(e / 100, 1L) else 0L)
  }
}
