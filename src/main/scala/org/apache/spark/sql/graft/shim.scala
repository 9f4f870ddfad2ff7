package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression,
  Generator, InterpretedMutableProjection, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Bridge to the `private[sql]` parts of classic Spark that graft needs.
  *
  * Spark 4.x moved the `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (private[sql]); this
  * object lives in a subpackage of `org.apache.spark.sql` purely to
  * re-export it for graft's custom expressions, the session
  * `clone`/`rebind` pair behind [[graft.core.ScopedConf]], and the
  * internal-row `collectRows`/`localFrame` pair behind
  * [[graft.index.Probes.local]], and the driver-side plan reads behind
  * [[graft.index.Probes.scan]] (`localRows`, `oneSplit`).
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

  /** `df`'s rows, computed lazily on the driver with no job and no
    * optimizer pass, when its analyzed plan is a LocalRelation under
    * projections, filters and generators of deterministic, evaluable
    * expressions; None for any other plan. */
  def localRows(df: DataFrame): Option[Iterator[InternalRow]] =
    evalLocal(df.queryExecution.analyzed)

  private def evalLocal(p: LogicalPlan): Option[Iterator[InternalRow]] = {
    def evaluable(e: Expression) = e.deterministic &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[Attribute])
    p match {
      case LocalRelation(_, data, false, _) => Some(data.iterator)
      case _ if !p.expressions.forall(evaluable) => None
      case Project(list, c) => evalLocal(c).map { rows =>
        val proj = new InterpretedMutableProjection(list, c.output)
        rows.map(proj(_).copy())
      }
      case Filter(cond, c) => evalLocal(c).map { rows =>
        val pred = BindReferences.bindReference(cond, c.output)
        rows.filter(pred.eval(_) == true)
      }
      case g @ Generate(gen, _, outer, _, genOut, c) => evalLocal(c).map { rows =>
        val bound = BindReferences.bindReference(gen: Expression, c.output).asInstanceOf[Generator]
        val keep = new InterpretedMutableProjection(g.requiredChildOutput, c.output)
        val (kt, gt) = (g.requiredChildOutput.map(_.dataType), genOut.map(_.dataType))
        rows.flatMap { r =>
          val base = keep(r).toSeq(kt)
          val out = bound.eval(r).iterator.toSeq
          (if (out.isEmpty && outer) Seq(InternalRow.fromSeq(gt.map(_ => null))) else out)
            .map(o => InternalRow.fromSeq(base ++ o.toSeq(gt)))
        }
      }
      case _ => None
    }
  }

  /** Whether `df` reads one input split, from the driver's file listing
    * with no job: its analyzed plan is projections and filters over a
    * file relation of one data file no larger than the session's
    * smallest split size (the lesser of `spark.sql.files.maxPartitionBytes`
    * and `spark.sql.files.openCostInBytes`), which no split rule cuts. */
  def oneSplit(df: DataFrame): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    def walk(p: LogicalPlan): Boolean = p match {
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _) =>
        r.bucketSpec.isEmpty && r.location.inputFiles.length == 1 &&
          r.location.sizeInBytes <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
      case Project(_, c) => walk(c)
      case Filter(_, c) => walk(c)
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }
}
