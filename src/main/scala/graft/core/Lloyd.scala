package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._

/** The one Lloyd loop — faiss `Clustering::train`
  * (faiss/Clustering.cpp:271-560) over a pluggable assign backend, as
  * contrib/clustering.py's `kmeans` runs it (:121) — shared by k-means
  * ([[graft.cluster.KMeans]]), PQ ([[graft.index.Pq.train]]), two-level
  * clustering ([[graft.cluster.TwoLevelClustering]]) and the coarse
  * quantizers over centroid tables ([[CoarsePq]]). Callers keep their
  * own empty-cluster and post-processing policy.
  *
  * A codebook is ONE flat array: codeword j occupies
  * [j * dsub, (j + 1) * dsub). A round works on the slice
  * [off, off + dsub) of each row, and rows fall into groups, each with
  * its own codebook: one for k-means, M subspaces for PQ, the level-1
  * cells for two-level clustering.
  *
  * Two backends, and [[inProcess]] is the one rule between them: a
  * training set within its bound is collected once and every round
  * runs on the driver ([[assign]], [[stats]], [[train]]); a larger one
  * stays cached and each round is one Spark job ([[Distributed]]). Both
  * start from [[firstInHashOrder]] and compute the same double (x − c)²
  * with ties to the lower index; only the order of the sums differs. */
object Lloyd {

  /** The rule that picks the backend: a training set of at most this
    * many rows trains in-process, a larger one on Spark. The bound is
    * the rows-per-partition unit of the shuffle-width rule.
    *
    * Timed on one 4-vCPU machine, local[4], so both paths had the same
    * cores: PQ training (sample 256 × ksub, dsub 8, 3 rounds) is faster
    * in-process at 2^16 rows (ksub 256; −35% at d 64, −13% at d 768)
    * and slower at 2^17 (ksub 512, +7% at d 64), so on one machine the
    * bound is PQ's crossover. k-means (k 64, 5 rounds) took about half
    * the time in-process at every size tried, 2^15 to 2^18 rows at d 64
    * and d 768. The crossover on a multi-node cluster, where the
    * distributed rounds get more cores, is not measured.
    *
    * At the bound the driver holds the sample as floats, rows × d × 4
    * bytes: 16 MB at d 64, 200 MB at d 768. */
  def inProcess(rows: Long): Boolean = rows <= ScopedConf.RowsPerPartition

  /** Index of the codeword of `cb` nearest to x[off, off + dsub). The
    * inner loop is unrolled by four with the additions in the same
    * order, so the sum is the plain loop's to the bit (PQ training at
    * d 768, dsub 8, 2^16 rows on a 4-vCPU machine: 25.5 s → 16–19 s). */
  def nearest(x: Array[Float], off: Int, cb: Array[Float], dsub: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var j = 0; var base = 0
    val d4 = dsub & ~3
    while (base < cb.length) {
      var s = 0.0; var t = 0
      while (t < d4) {
        val a = x(off + t).toDouble - cb(base + t)
        val b = x(off + t + 1).toDouble - cb(base + t + 1)
        val c = x(off + t + 2).toDouble - cb(base + t + 2)
        val e = x(off + t + 3).toDouble - cb(base + t + 3)
        s += a * a; s += b * b; s += c * c; s += e * e
        t += 4
      }
      while (t < dsub) { val d = x(off + t).toDouble - cb(base + t); s += d * d; t += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1; base += dsub
    }
    best
  }

  /** Assign step: each row's nearest codeword into `out`. Rows are
    * independent, so they run on the common pool; each row writes only
    * its own slot, so the result does not depend on the schedule. */
  def assign(xs: Array[Array[Float]], off: Int, dsub: Int, cb: Array[Float],
      out: Array[Int]): Unit =
    java.util.stream.IntStream.range(0, xs.length).parallel().forEach { r =>
      out(r) = nearest(xs(r), off, cb, dsub)
    }

  /** Update statistics of one round: per-codeword sums (flat, like the
    * codebook) and counts, and the objective Σ ‖x − c_a‖² (each row's
    * distance as the assign computes it), all accumulated in double,
    * sequentially in row order. */
  final case class Stats(sums: Array[Double], counts: Array[Long], objective: Double)

  def stats(xs: Array[Array[Float]], off: Int, dsub: Int, cb: Array[Float],
      codes: Array[Int]): Stats = {
    val sums = new Array[Double](cb.length)
    val counts = new Array[Long](cb.length / dsub)
    var obj = 0.0
    var r = 0
    while (r < xs.length) {
      val x = xs(r); val base = codes(r) * dsub
      counts(codes(r)) += 1
      var s = 0.0; var t = 0
      while (t < dsub) {
        val v = x(off + t).toDouble
        sums(base + t) += v
        val d = v - cb(base + t); s += d * d
        t += 1
      }
      obj += s
      r += 1
    }
    Stats(sums, counts, obj)
  }

  /** A new codebook of the means; an empty codeword keeps its value
    * from `cb`. */
  def means(cb: Array[Float], st: Stats, dsub: Int): Array[Float] = {
    val next = cb.clone()
    var j = 0
    while (j < st.counts.length) {
      val n = st.counts(j)
      if (n > 0) {
        var t = j * dsub
        while (t < (j + 1) * dsub) { next(t) = (st.sums(t) / n).toFloat; t += 1 }
      }
      j += 1
    }
    next
  }

  /** `rounds` Lloyd iterations from `cb0` where an empty codeword keeps
    * its previous value (the policy of PQ's subspaces and two-level
    * clustering's groups); returns the trained codebook.
    *
    * The rounds run over a copy of each row's slice, allocated in row
    * order: a round then streams through memory instead of touching one
    * cache line per row (at d 768, dsub 8 the sequential update on the
    * rows in place cost as much as a fifth of the assign). */
  def train(xs: Array[Array[Float]], off: Int, dsub: Int, cb0: Array[Float],
      rounds: Int): Array[Float] = {
    val sub = xs.map(x => java.util.Arrays.copyOfRange(x, off, off + dsub))
    val codes = new Array[Int](xs.length)
    var cb = cb0
    var it = 0
    while (it < rounds) {
      assign(sub, 0, dsub, cb, codes)
      cb = means(cb, stats(sub, 0, dsub, cb, codes), dsub)
      it += 1
    }
    cb
  }

  /** The flat codebook whose codeword j is rows(j)[off, off + dsub). */
  def flatten(rows: Array[Array[Float]], off: Int, dsub: Int): Array[Float] = {
    val out = new Array[Float](rows.length * dsub)
    var j = 0
    while (j < rows.length) { System.arraycopy(rows(j), off, out, j * dsub, dsub); j += 1 }
    out
  }

  def flatten(cb: Array[Array[Float]]): Array[Float] = flatten(cb, 0, cb(0).length)

  def unflatten(cb: Array[Float], dsub: Int): Array[Array[Float]] =
    Array.tabulate(cb.length / dsub)(j => java.util.Arrays.copyOfRange(cb, j * dsub, (j + 1) * dsub))

  /** The init of every trainer: the first n(g) rows of each group g in
    * hash order (faiss's rand_perm prefix, made deterministic), ties in
    * arrival order; a short group gives all it has. `rows` are
    * (group, hash, vector). */
  def firstInHashOrder(rows: Iterable[(Int, Long, Array[Float])],
      n: Array[Int]): Array[Array[Array[Float]]] = {
    val byGroup = rows.groupBy(_._1)
    Array.tabulate(n.length)(g => byGroup.get(g).fold(Array.empty[Array[Float]])(
      rs => rs.toSeq.sortBy(_._2).take(n(g)).map(_._3).toArray))
  }

  /** [[firstInHashOrder]] of (_g, _v) rows hashed by xxhash64(_v, seed),
    * in one job: each group keeps at most 2 × max(n) candidates per
    * partition and merge (a TakeOrdered per group). */
  def firstInHashOrder(rows: DataFrame, n: Array[Int], seed: Long): Array[Array[Array[Float]]] = {
    val cap = n.max
    val kept = rows.select(col("_g"), xxhash64(col("_v"), lit(seed)), col("_v")).rdd
      .map(r => (r.getInt(0), Vector((r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))))
      .reduceByKey { (a, b) =>
        val ab = a ++ b
        if (ab.length > 2 * cap) ab.sortBy(_._2).take(cap) else ab
      }
      .values.collect()
    firstInHashOrder(kept.toSeq.flatten, n)
  }

  /** The Spark backend: `source` repartitioned to [[ScopedConf.tinyParts]]
    * of `trainRows` and cached. Callers build (_g: int, _v: array<float>)
    * rows on [[cached]]; each round over them is one job, its shuffle
    * at the same width. */
  final class Distributed(source: DataFrame, trainRows: Long) extends AutoCloseable {
    private val spark = source.sparkSession
    private val parts = ScopedConf.tinyParts(spark, trainRows)
    val cached: DataFrame = source.repartition(parts).cache()

    /** Assign every row against its group's codebook in `cbs`, then
      * groupBy(group, code) + [[VecSumAgg]] and collect: each group's
      * statistics, zero counts for a group without rows. */
    def round(rows: DataFrame, cbs: Array[Array[Float]], dsub: Int): Array[Stats] = {
      val out = ScopedConf.tinyShuffle(spark, parts) { s =>
        shim.rebind(s, rows)
          .select(col("_g"), col("_v"),
            shim.col(LloydAssign(shim.expr(col("_g")), shim.expr(col("_v")), cbs, dsub)).as("_a"))
          .groupBy(col("_g"), col("_a.code"))
          .agg(shim.agg(VecSumAgg(shim.expr(col("_v")))).as("s"), sum(col("_a.dist")))
          .collect()
      }
      val sums = cbs.map(cb => new Array[Double](cb.length))
      val counts = cbs.map(cb => new Array[Long](cb.length / dsub))
      val objective = new Array[Double](cbs.length)
      out.foreach { r =>
        val g = r.getInt(0); val j = r.getInt(1); val s = r.getStruct(2)
        s.getSeq[Double](0).copyToArray(sums(g), j * dsub)
        counts(g)(j) = s.getLong(1)
        objective(g) += r.getDouble(3)
      }
      Array.tabulate(cbs.length)(g => Stats(sums(g), counts(g), objective(g)))
    }

    /** [[Lloyd.train]] for every group at once. */
    def train(rows: DataFrame, cbs0: Array[Array[Float]], dsub: Int,
        rounds: Int): Array[Array[Float]] =
      (0 until rounds).foldLeft(cbs0) { (cbs, _) =>
        round(rows, cbs, dsub).zip(cbs).map { case (st, cb) => means(cb, st, dsub) }
      }

    def close(): Unit = cached.unpersist()
  }

  /** Codegen entry point of [[LloydAssign]]. */
  def assignRow(g: Int, v: ArrayData, cbs: Array[Array[Float]], dsub: Int): InternalRow = {
    val x = v.toFloatArray(); val cb = cbs(g)
    val j = nearest(x, 0, cb, dsub)
    var s = 0.0; var t = 0
    while (t < dsub) { val d = x(t).toDouble - cb(j * dsub + t); s += d * d; t += 1 }
    InternalRow(j, s)
  }
}

/** [[Lloyd.Distributed]]'s assign: struct(code, dist) of sub-vector
  * `right` against the flat codebook `cbs(left)` of its group — the
  * codeword [[Lloyd.nearest]] picks and the distance [[Lloyd.stats]]
  * adds. */
case class LloydAssign(left: Expression, right: Expression,
    cbs: Array[Array[Float]], dsub: Int) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("code", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def prettyName: String = "lloyd_assign"
  override def nullSafeEval(g: Any, v: Any): Any =
    Lloyd.assignRow(g.asInstanceOf[Int], v.asInstanceOf[ArrayData], cbs, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", cbs, "float[][]")
    defineCodeGen(ctx, ev, (g, v) => s"graft.core.Lloyd.assignRow($g, $v, $cb, $dsub)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
