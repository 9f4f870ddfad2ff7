package graft.core

import org.apache.spark.sql.DataFrame

/** Widens a narrow input to cluster parallelism WITHOUT executing the
  * lineage just to count partitions (factored out of Dedup in r20 —
  * ADVICE r19: KnnGraph.exact called `.rdd.getNumPartitions`
  * unconditionally, which under AQE materializes every upstream stage
  * of a shuffle-containing lineage; the same redundant job class the
  * r19 round removed elsewhere). */
object Widen {

  /** What a lineage's partitioning is, read from its optimized plan. */
  sealed trait Width
  /** Its topmost partitioning node implies an exchange at
    * `spark.sql.shuffle.partitions`, which is sized for the cluster. */
  case object Cluster extends Width
  /** Its topmost partitioning node runs in one partition: a global
    * limit, an ungrouped aggregate or a window with no partition spec. */
  case object Single extends Width
  /** No exchange: it runs at its scan's split count. */
  case object Scan extends Width

  def width(df: DataFrame): Width = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Only nodes that IMPLY an exchange count as proof of
    // cluster-sized parallelism (ADVICE r8): a broadcast-hinted join
    // (e.g. slidingWindow's left-semi against a broadcast id list), a
    // coalesce, or a sortWithinPartitions adds no shuffle, so a
    // lineage containing only those still runs at file-split
    // parallelism and DOES need widening before the CPU-bound
    // shingle/minhash kernels. A join without a broadcast hint plans
    // as a shuffle join on both sides (a stats-based auto-broadcast
    // would pass through unwidened — the conservative pre-r9 behavior).
    // An exchange into ONE partition proves nothing, and the topmost
    // node decides: a limit over a groupBy runs in one partition, a
    // groupBy over a limit at shuffle width.
    // Decided from the OPTIMIZED plan: only there does
    // EliminateResolvedHint fold the broadcast() hint into Join.hint —
    // in the analyzed plan the hint is a separate ResolvedHint node
    // and Join.hint is always NONE (r9 review). Optimizing plans, not
    // executes, anything.
    def broadcastHinted(j: Join): Boolean =
      Seq(j.hint.leftHint, j.hint.rightHint).flatten
        .flatMap(_.strategy).contains(BROADCAST)
    df.queryExecution.optimizedPlan.collectFirst {
      case _: GlobalLimit => Single
      case a: Aggregate if a.groupingExpressions.isEmpty => Single
      case w: Window if w.partitionSpec.isEmpty => Single
      case _: Aggregate | _: RepartitionByExpression | _: Window |
          _: Distinct | _: Deduplicate => Cluster
      case Repartition(_, true, _) => Cluster
      case s: Sort if s.global => Cluster
      case j: Join if !broadcastHinted(j) => Cluster
    }.getOrElse(Scan)
  }

  def apply(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    width(df) match {
      case Cluster => df
      // counting its partitions would run the exchange into it
      case Single => df.repartition(target)
      // shuffle-free lineage: with no shuffle stages to materialize,
      // .rdd here is (at most) a plan conversion plus the build of any
      // hinted-broadcast side — small by the hint's own contract
      // (file scans know their split count statically). An input
      // already wider than the target (the many-split 100 TB case)
      // passes through; only a genuinely narrow scan pays the
      // widening shuffle.
      case Scan => if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }
}
