package graft.spark

import graft.model.Triple
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Hot-entity aggregation with explicit salted two-phase execution
  * (north rule: "two-phase aggregation for hot entities").
  *
  * A graph over transcripts is Zipf-shaped: a handful of entities (the
  * assistant, a popular tool, a hot document) collect orders of magnitude
  * more triples than the median. A plain `groupBy(subj)` hashes all rows of
  * one subject to one reducer; at 10^12 turns that single task is the job's
  * wall clock. Salting splits each subject across `Salt` reducers for the
  * partial phase, then combines `Salt` partial rows per subject in a second,
  * tiny shuffle.
  */
object EntityStats {

  private final val Salt = 16

  /** Per-subject statistics via salted two-phase aggregation. The result is
    * identical to a direct `groupBy(subj)` — only the physical shuffle shape
    * differs (phase 1: (subj, salt) keys, phase 2: `Salt` rows per subject).
    */
  def bySubject(triples: Dataset[Triple]): DataFrame = {
    // salt on (conv_id, turn_idx, pred, obj): a hot subject whose triples
    // all come from ONE conversation still spreads (a conv_id-only salt
    // would be constant for it), and so do ENTAILMENT-DERIVED triples,
    // which all carry conv_id=null/turn_idx=-1 — a lineage-only salt
    // degenerates to one constant for exactly the unbounded derived family.
    // Deterministic (content columns only), so the two-phase result is
    // plan-independent; the salt never appears in the output.
    val salted = triples.withColumn("salt",
      pmod(hash(col("conv_id"), col("turn_idx"), col("pred"),
        coalesce(col("obj_iri"), col("obj_lexical"))), lit(Salt)))
    val partial = salted.groupBy(col("subj"), col("salt")).agg(
      count(lit(1)).as("p_triples"),
      collect_set(col("pred")).as("p_pred_set"))
    partial.groupBy(col("subj")).agg(
      sum(col("p_triples")).as("n_triples"),
      size(array_distinct(flatten(collect_list(col("p_pred_set"))))).cast("long").as("n_preds"))
      .select(col("subj"), col("n_triples"), col("n_preds"))
  }
}
