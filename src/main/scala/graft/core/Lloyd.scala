package graft.core

/** Driver-side Lloyd rounds over an in-memory training sample — the
  * shape of faiss `Clustering::train` once it has subsampled
  * (faiss/Clustering.cpp:93, :271-560), shared by k-means
  * ([[graft.cluster.KMeans]]), PQ codebook training
  * ([[graft.index.Pq.train]]) and the coarse quantizers over centroid
  * tables ([[CoarsePq]]). Each caller keeps its own init, empty-cluster
  * and post-processing policy; this object holds the assign and update.
  *
  * A codebook is ONE flat array: codeword j occupies
  * [j * dsub, (j + 1) * dsub). Rows are the training vectors; a round
  * works on the slice [off, off + dsub) of each row, so a PQ subspace
  * and a full-width k-means use the same loop.
  *
  * Arithmetic matches the distributed kernels exactly: distances are
  * the double-accumulated (x − c)² of `CentroidKernels.dist` and
  * [[PqKernels]], ties go to the lower index, and sums are doubles. So
  * for the same sample and codebook, every argmin equals the one the
  * Spark assign computes. */
object Lloyd {

  /** The largest training sample trained in-process: the rows-per-
    * partition unit of the shuffle-width rule. Above it, trainers keep
    * their distributed rounds.
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
    * its previous value (ProductQuantizer::train's per-subspace k-means
    * as the engine runs it); returns the trained codebook.
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
}
