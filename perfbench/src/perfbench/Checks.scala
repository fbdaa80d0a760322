package perfbench

import graft.model.Triple
import graft.spark.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, each comparing what the program wrote with what the
  * generator says it must be. They take the output as a DataFrame so the
  * benchmark's self-test can hand them a corrupted copy.
  */
object Checks {

  private def identity(subj: String, pred: String, t: graft.model.Term): String = t match {
    case graft.model.Term.Iri(v) => s"$subj $pred <$v>"
    case graft.model.Term.Lit(l, d, g) => s"$subj $pred \"$l\" $d $g"
  }

  /** The bulk_build docs whose written rows are re-extracted and compared. */
  def bulkSample(corpus: Gen.Bulk, n: Int = 40): Seq[Gen.Doc] = {
    val r = Gen.rng(corpus.docs.size.toLong, "bulk_sample")
    val markup = corpus.docs.filter(_.raw > 0)
    Seq.fill(n)(markup(r.nextInt(markup.size))).distinct
  }

  def bulk(spark: SparkSession, written: DataFrame, corpus: Gen.Bulk): Seq[Check] = {
    val n = written.count()
    val count = Check("bulk.count", n == corpus.statements,
      s"table holds $n statements, generator expects ${corpus.statements}")
    val sample = bulkSample(corpus)
    val keys = sample.map(d => (d.conv, d.turn)).toSet
    val rows = written.filter(col("conv_id").isin(sample.map(_.conv).distinct: _*))
      .select(col("conv_id"), col("turn_idx"), col("subj"), col("pred"), col("obj_iri"),
        col("obj_lexical"), col("obj_datatype"), col("obj_lang"))
      .collect().filter(r => keys((r.getString(0), r.getInt(1))))
      .map { r =>
        val obj = if (r.getString(4) != null) graft.model.Term.Iri(r.getString(4))
                  else graft.model.Term.Lit(r.getString(5), r.getString(6), r.getString(7))
        ((r.getString(0), r.getInt(1)), identity(r.getString(2), r.getString(3), obj))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    val bad = sample.filter { d =>
      val res = graft.core.Extractor.extract(d.text, s"${d.conv}#${d.turn}", null,
        ExtractPipeline.defaultRegistry)
      val expected = res.triples.map(t => identity(t.subj, t.pred, t.obj)).sorted
      expected.size != d.raw || rows.getOrElse((d.conv, d.turn), Nil) != expected
    }
    Seq(count, Check("bulk.sample_reextracted", bad.isEmpty,
      s"${bad.size} of ${sample.size} sampled docs differ from a core re-extraction" +
        bad.headOption.map(d => s" (first: ${d.conv}#${d.turn})").getOrElse("")))
  }

  /** Count plus an order-independent hash of the distinct identity rows. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val ids = Triple.identityCols.map(col)
    val r = df.select(ids: _*).distinct()
      .agg(count(lit(1)), sum(xxhash64(ids: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Standing artifacts after incremental folds vs a from-scratch build of
    * the same inputs, plus the link state against the generator.
    */
  def fold(graph: DataFrame, scratchGraph: DataFrame, closure: DataFrame, scratchClosure: DataFrame,
           linkState: DataFrame, corpus: Gen.Fold, batches: Int): Seq[Check] = {
    val (g, sg) = (fingerprint(graph), fingerprint(scratchGraph))
    val (c, sc) = (fingerprint(closure), fingerprint(scratchClosure))
    val nodes = linkState.count()
    val comps = linkState.select(col("component")).distinct().count()
    val (en, ec) = corpus.linkState(batches)
    Seq(
      Check("fold.graph_equals_scratch", g == sg, s"incremental $g vs from-scratch $sg"),
      Check("fold.closure_equals_scratch", c == sc, s"incremental $c vs from-scratch $sc"),
      Check("fold.link_components", nodes == en && comps == ec,
        s"link state $nodes nodes / $comps components, expected $en / $ec"))
  }

  /** A QueryMain answer against the generator's: the same rows on the
    * query's binding columns, compared as sorted lists.
    */
  def query(q: Gen.Query, bindings: DataFrame): Check = {
    val df = if (bindings.columns.contains("obj_iri"))
      bindings.withColumn("obj", coalesce(col("obj_iri"), col("obj_lexical"))) else bindings
    val got = df.select(q.columns.map(col): _*).collect()
      .map(r => Gen.row(r.toSeq.map(v => if (v == null) null else v.toString))).sorted.toSeq
    val diff = (got.diff(q.answer).map("unexpected " + _) ++ q.answer.diff(got).map("missing " + _)).headOption
    Check(s"query.${q.kind}", got == q.answer,
      s"${q.kind} returned ${got.size} rows, expected ${q.answer.size}" + diff.map(d => s" ($d)").getOrElse(""))
  }

  /** An ASK answer against the generator's. */
  def ask(q: Gen.Query, asked: Boolean): Check =
    Check(s"query.${q.kind}", asked == (q.expected == 1L), s"ASK answered $asked, expected ${q.expected == 1L}")
}
