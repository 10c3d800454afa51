package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column a backend-agnostic ColumnNode wrapper; building a
  * Column from a custom Catalyst Expression goes through the classic
  * converter, which is `private[sql]`. This one-file subpackage of
  * org.apache.spark.sql is the supported-in-practice way libraries bridge
  * that gap (same pattern as frameless / spark-daria).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan beneath a DataFrame (classic backend). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Conjuncts of an analyzed predicate translated to DSv1 source
    * filters, with the untranslatable leftovers — the dry-run face of
    * the pushdown channel the scan builder rides
    * ([[org.apache.spark.sql.execution.datasources.DataSourceStrategy]]
    * is `private[sql]`, hence here).
    */
  def translateConjuncts(pred: Expression)
      : (Seq[org.apache.spark.sql.sources.Filter], Seq[Expression]) = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    val (ok, bad) = split(pred).partition(e =>
      org.apache.spark.sql.execution.datasources.DataSourceStrategy
        .translateFilter(e, supportNestedPredicatePushdown = true).isDefined)
    (ok.flatMap(e => org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)), bad)
  }

  /** Wrap a (possibly custom) logical plan back into a DataFrame. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s optimized plan when it is a batch [[LocalRelation]] (a local
    * table: rows held on the driver), else None. Getting it runs the
    * optimizer, which folds projections (interpreted) and filters (a
    * generated predicate) over a local table into one: no job.
    */
  def localRelation(df: DataFrame): Option[LocalRelation] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => Some(r)
      case _ => None
    }

  /** A local table's rows as external [[Row]]s, converted without a
    * generated class (where `collect()` would compile a projection and a
    * deserializer for every new schema); None when `df` is no local table.
    */
  def localRows(df: DataFrame): Option[Seq[Row]] =
    localRelation(df).map { r =>
      val toRow = CatalystTypeConverters.createToScalaConverter(r.schema)
      r.data.map(toRow(_).asInstanceOf[Row])
    }
}
