package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.{JoinType, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.classic.ColumnNodeToExpressionConverter
import org.apache.spark.sql.classic.ExpressionUtils.toNamed

/** Builds a query as one Catalyst logical plan and wraps it in a Dataset
  * once. Every Dataset the DataFrame API chains analyzes the whole plan
  * built so far; a plan built with [[PlanOps]] is analyzed once, by
  * [[frame]]. Names resolve at that analysis, and the analyzer gives each
  * repeated occurrence of a relation fresh attribute ids, as it does for a
  * DataFrame self-join. Lives under org.apache.spark.sql for the
  * `private[sql]` `Dataset.ofRows` and `Dataset.logicalPlan`.
  */
object PlanBridge {
  /** The analyzed plan of `ds`, as a leaf of a plan built here. */
  def plan(ds: Dataset[_]): LogicalPlan = ds.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** `p` as a DataFrame: its one analysis. */
  def frame(spark: SparkSession, p: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], p)

  /** `p` as a typed Dataset (a tuple encoder binds columns by position):
    * its one analysis.
    */
  def frameAs[T: Encoder](spark: SparkSession, p: LogicalPlan): Dataset[T] =
    classic.Dataset[T](spark.asInstanceOf[classic.SparkSession], p)

  // converted now, as a Dataset converts its arguments: a lazily converted
  // column is no named expression, so a projection would lose its names
  private def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The DataFrame operators the query forms use, as plan nodes. */
  implicit final class PlanOps(private val p: LogicalPlan) extends AnyVal {
    def filter(condition: Column): LogicalPlan = Filter(expression(condition), p)
    def select(cols: Column*): LogicalPlan = Project(cols.map(c => toNamed(expression(c))), p)
    def join(right: LogicalPlan, using: Seq[String], joinType: String = "inner"): LogicalPlan =
      Join(p, right, UsingJoin(JoinType(joinType), using), None, JoinHint.NONE)
    def join(right: LogicalPlan, on: Column, joinType: String): LogicalPlan =
      Join(p, right, JoinType(joinType), Some(expression(on)), JoinHint.NONE)
    def as(alias: String): LogicalPlan = SubqueryAlias(alias, p)
    def unionByName(other: LogicalPlan, allowMissingColumns: Boolean = false): LogicalPlan =
      Union(Seq(p, other), byName = true, allowMissingCol = allowMissingColumns)
    def distinct(): LogicalPlan = Distinct(p)
    def limit(n: Int): LogicalPlan = Limit(Literal(n), p)
  }
}
