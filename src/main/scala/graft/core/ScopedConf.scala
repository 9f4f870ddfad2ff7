package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.shim

/** Conf scoping on a cloned session: the one way this engine runs work
  * under confs other than the caller's.
  *
  * Several operators train/iterate over inputs whose size is known
  * exactly before the work starts (Lloyd's Spark round, see
  * [[graft.core.Lloyd.Distributed]]; nnDescent's candidate volume; the
  * io-matrix's fixed 490-row slice).
  * When that volume sits far below the session's shuffle width, every
  * exchange runs as a cluster-width stage of near-empty tasks and AQE
  * materializes each stage as its own job — pure scheduling latency.
  * `tinyShuffle` runs such work with `spark.sql.shuffle.partitions` at
  * the derived count and AQE off.
  *
  * Scale-safety contract for CALLERS: the partition count must be
  * DERIVED from the measured input (rows/bytes) and clamped to the
  * session value — at real scale the clamp saturates and the scope is
  * a no-op (callers skip it entirely via [[tinyParts]] returning the
  * session value). Never pass a constant tuned to a core count.
  *
  * Contract of a scope: the body gets a clone of the caller's session
  * (shared SparkContext, cache and catalog; copied conf, functions and
  * temp views) with the scoped confs set, and the caller's session is
  * never written — so concurrent scopes with different values, and a
  * body that throws, leave it exactly as it was. A plan runs under the
  * scoped confs only if its DataFrame belongs to the clone: the body
  * rebinds its inputs with `shim.rebind(clone, df)`. What it returns
  * must be collected values, or a DataFrame rebound to the caller's
  * session with `shim.rebind(spark, df)` — a clone-bound frame would
  * carry the scoped confs into every plan the caller builds on it, and
  * temp views the body registers (memory sinks) exist only in the
  * clone.
  *
  * Cost: a clone is cheap, but a clone of a session with artifact
  * isolation on gets its own executor classloader, so its generated
  * code compiles again. [[graft.GraftSession]] turns isolation off.
  */
object ScopedConf {

  /** Rows per shuffle partition of the width rule, and the largest
    * training sample the engine trains in-process ([[Lloyd.inProcess]]). */
  val RowsPerPartition: Long = 1L << 16

  /** Derived shuffle-partition count for `rows` input rows at
    * `rowsPerPartition` granularity, clamped to [1, session]. */
  def tinyParts(spark: SparkSession, rows: Long,
      rowsPerPartition: Long = RowsPerPartition): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    val n = math.ceil(rows.toDouble / math.max(1L, rowsPerPartition)).toLong
    math.max(1L, math.min(session.toLong, n)).toInt
  }

  /** Runs `f` on a clone with shuffle partitions pinned to `parts` and
    * AQE off; runs `f(spark)` itself when `parts` is not below the
    * session value (the at-scale case). */
  def tinyShuffle[A](spark: SparkSession, parts: Int)(f: SparkSession => A): A =
    if (parts >= spark.sessionState.conf.numShufflePartitions) f(spark)
    else withConfs(spark,
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false")(f)

  /** Runs `f` on a clone of `spark` with the given confs set. */
  def withConfs[A](spark: SparkSession, pairs: (String, String)*)(
      f: SparkSession => A): A = {
    val scoped = shim.clone(spark)
    pairs.foreach { case (key, v) => scoped.conf.set(key, v) }
    f(scoped)
  }
}
