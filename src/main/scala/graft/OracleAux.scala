package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Sidecar parquet written by [[Verify]] so the DuckDB oracle SQL can
  * read the engine's TRAINED state (k-means centroids, PQ codebooks,
  * rotation matrices) and then independently re-derive the
  * encode/LUT/ADC/assignment arithmetic. This converts
  * "engine-deterministic, rows-only" queries into fully hash-checked
  * ones: the oracle does real work on top of the sidecar (argmin
  * encoding, table lookups, distance sums), so agreement verifies the
  * pipeline, not just the dump.
  *
  * The root is `target/oracle_aux` under the working directory, made
  * absolute because the oracle SQL is a static string with no
  * directory parameter: each checkout that runs Verify writes, and its
  * oracle SQL reads, its own sidecars. The correctness gate always
  * runs at sf0.01 (TESTDATA.md); Verify writes the sidecars for
  * whatever sf directory it is invoked with, keyed by the directory's
  * basename so concurrent sf runs never clobber each other, and
  * `tools/localverify.py` points the SQL at the right one.
  */
object OracleAux {

  val Root: String = new java.io.File("target/oracle_aux").getAbsolutePath

  def dir(sfDir: String): String =
    s"$Root/${new java.io.File(sfDir).getName}"

  /** (list_no, c) one row per centroid. */
  def centroidsDf(s: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list_no", "c")
      .select(col("list_no"), col("c").cast("array<float>").as("c"))
  }

  /** (m, j, c) one row per PQ codebook entry. */
  def codebooksDf(s: SparkSession, cb: Array[Array[Array[Float]]]): DataFrame = {
    import s.implicits._
    (for (m <- cb.indices; j <- cb(m).indices)
      yield (m, j, cb(m)(j).toSeq)).toDF("m", "j", "c")
      .select(col("m"), col("j"), col("c").cast("array<float>").as("c"))
  }

  /** (list_no, bits) one row per binary centroid, bits as 0/1 ints. */
  def bitsDf(s: SparkSession, bits: Array[Array[Int]]): DataFrame = {
    import s.implicits._
    bits.zipWithIndex.toSeq.map { case (b, l) => (l, b.toSeq) }
      .toDF("list_no", "bits")
  }

  /** (d, r) one row per matrix row (output dim d = weights r). */
  /** (l, j, c) rows of a two-level 1-D norm codebook (the rq2x4 /
    * lsq2x4 norm_tabs sidecars). */
  def normCbDf(s: SparkSession, ncb: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    (for (l <- ncb.indices; j <- ncb(l).indices) yield (l, j, ncb(l)(j)))
      .toDF("l", "j", "c")
  }

  def matrixDf(s: SparkSession, a: Array[Array[Float]]): DataFrame = {
    import s.implicits._
    a.zipWithIndex.toSeq.map { case (row, d) => (d, row.toSeq) }
      .toDF("d", "r")
      .select(col("d"), col("r").cast("array<float>").as("r"))
  }

  /** (d, r, bias) one row per Linear-transform row (y = A x + b);
    * bias written as 0 when the transform has none. */
  def linearDf(s: SparkSession, lin: graft.transform.Linear): DataFrame = {
    import s.implicits._
    val b = if (lin.b == null) Array.fill(lin.a.length)(0f) else lin.b
    lin.a.zip(b).zipWithIndex.toSeq
      .map { case ((row, bb), d) => (d, row.toSeq, bb) }
      .toDF("d", "r", "bias")
      .select(col("d"), col("r").cast("array<float>").as("r"), col("bias"))
  }

  def write(sfDir: String, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${dir(sfDir)}/$name")
}
