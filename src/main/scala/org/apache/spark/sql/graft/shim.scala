package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Cast,
  Expression, Generator, InterpretedMutableProjection, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.Util
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** Bridge to the `private[sql]` parts of classic Spark that graft needs.
  *
  * Spark 4.x moved the `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (private[sql]); this
  * object lives in a subpackage of `org.apache.spark.sql` purely to
  * re-export it for graft's custom expressions, the session
  * `clone`/`rebind` pair behind [[graft.core.ScopedConf]], and the
  * internal-row `collectRows`/`localFrame` pair behind
  * [[graft.index.Probes.local]], and the driver-side plan reads behind
  * [[graft.index.Probes.scan]] (`localRows`, `oneSplit`, `skipsRows`).
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
    def walk(p: LogicalPlan): Boolean = p match {
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _) => oneSplit(r)
      case Project(_, c) => walk(c)
      case Filter(_, c) => walk(c)
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }

  private def oneSplit(r: HadoopFsRelation): Boolean = {
    val conf = r.sparkSession.sessionState.conf
    r.bucketSpec.isEmpty && r.location.inputFiles.length == 1 &&
      r.location.sizeInBytes <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
  }

  /** Whether a filter on column `by` of `df` can skip rows where `df` is
    * read, decided on the driver with no job. It looks at `df`'s analyzed
    * plan with cached data substituted (what `queryExecution.withCachedData`
    * holds, looked up afresh, so a frame cached after its first use counts
    * as cached) and follows `by` through projections, filters and joins
    * (into the side that outputs it) to where it is read:
    *  - cached batches, a partition column, and a file relation read as
    *    more than one split skip rows;
    *  - so does a one-split parquet file that holds `by` in more than one
    *    page, or that records no offset index to count them;
    *  - a one-split file with one page of `by`, local rows, and a `by`
    *    computed by a projection (Spark pushes the filter below it, where
    *    it only re-evaluates the expression) skip nothing.
    * Any other plan is taken to skip rows. */
  def skipsRows(df: DataFrame, by: String): Boolean = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val resolver = spark.sessionState.conf.resolver
    def source(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Alias(c, _) => source(c)
      case c: Cast => source(c.child)
      case _ => None
    }
    def walk(p: LogicalPlan, a: Attribute): Boolean = p match {
      case _: InMemoryRelation => true
      case _: LocalRelation => false
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _) =>
        r.partitionSchema.exists(f => resolver(f.name, a.name)) || !oneSplit(r) ||
          !r.fileFormat.isInstanceOf[ParquetFileFormat] || pages(r, a.name) > 1
      case Project(list, c) => list.find(_.exprId == a.exprId).flatMap(source).exists(walk(c, _))
      case Filter(_, c) => walk(c, a)
      case j: Join => j.children.find(_.outputSet.contains(a)).forall(walk(_, a))
      case _ => true
    }
    val plan = spark.sharedState.cacheManager.useCachedData(df.queryExecution.analyzed)
    plan.output.find(o => resolver(o.name, by)).forall(walk(plan, _))
  }

  /** Data pages of column `name` in the one data file of `r`, summed over
    * its row groups from the footer and offset index; Int.MaxValue when
    * the file records no offset index for it. Reads the footer and the
    * offset indexes through one stream, with read options over the
    * session's Hadoop conf: `ParquetFileReader.open`, or options built
    * with no conf, load a new Hadoop conf and cost about 10 ms a call on
    * a 4-vCPU VM. */
  private def pages(r: HadoopFsRelation, name: String): Int = {
    val conf = r.sparkSession.sparkContext.hadoopConfiguration
    val file = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(r.location.inputFiles.head), conf)
    val in = file.newStream()
    try {
      val refs = ParquetFileReader.readFooter(file, HadoopReadOptions.builder(conf).build(), in)
        .getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString.equalsIgnoreCase(name)).map(c => Option(c.getOffsetIndexReference))
      if (refs.isEmpty || refs.contains(None)) Int.MaxValue
      else refs.flatten.map { ref =>
        in.seek(ref.getOffset)
        Util.readOffsetIndex(in).getPage_locationsSize
      }.sum
    } finally in.close()
  }
}
