package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

/** Bridge to the `private[sql]` parts of classic Spark that graft needs.
  *
  * Spark 4.x moved the `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (private[sql]); this
  * object lives in a subpackage of `org.apache.spark.sql` purely to
  * re-export it for graft's custom expressions, the session
  * `clone`/`rebind` pair behind [[graft.core.ScopedConf]], and the
  * internal-row `collectRows`/`localFrame` pair behind
  * [[graft.index.Probes.local]].
  */
object shim {
  def col(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def agg(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression())

  /** A session sharing `spark`'s SparkContext, cache and catalog, with
    * its own copy of the conf, functions and temp views: setting a conf
    * on it never reaches `spark` or its other callers. */
  def clone(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a DataFrame of `session`: its plans are
    * built under `session`'s conf, and cached data still matches through
    * the shared cache manager. The analyzed plan (not the raw one)
    * carries resolved temp views, so a view only `df`'s session knows
    * keeps working. */
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** `df`'s rows as internal rows, run as one SQL execution. */
  def collectRows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A LocalRelation frame of `spark` over `rows` of `df`'s schema. */
  def localFrame(spark: SparkSession, df: DataFrame, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(df.schema), rows))
}
