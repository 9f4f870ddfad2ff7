package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Driver-side product quantizer over an index's CENTROID table — the
  * quantizer-as-sub-index of the reference's parenthesized coarse
  * grammar (`IVF<n>(PQ<m>[x<k>])`, index_factory.cpp:263-267,719:
  * any sub-description inside the parentheses becomes the IndexIVF's
  * coarse quantizer; an IndexPQ quantizer ranks cells by ADC instead
  * of the exact centroid argmin).
  *
  * The table being quantized is the nlist-row centroid set — driver
  * memory by construction (it is already held as `Array[Array[Float]]`
  * on every IVF index) — so training always runs in-process, on
  * [[Lloyd]]'s rounds like every sample at or below its bound: per-
  * subspace k-means from a seeded-shuffle init, deterministic under
  * `seed` so every caller (factory build, search probe selection, the
  * Verify sidecar dump) derives the identical model from the same
  * centroids. */
object CoarsePq {

  /** (codebooks(m)(j) = float[dsub], codes(i) = byte[m]) */
  type Model = (Array[Array[Array[Float]]], Array[Array[Byte]])

  /** Identity-keyed memo: the same centroid array (one per live IVF
    * index) never retrains; entries die with the index (weak keys —
    * arrays hash by reference). */
  private val cache =
    new java.util.WeakHashMap[Array[Array[Float]], Map[(Int, Int, Int, Long), Model]]()

  def model(centroids: Array[Array[Float]], m: Int, ksub: Int,
      niter: Int = 10, seed: Long = 1234L): Model = cache.synchronized {
    val k = (m, ksub, niter, seed)
    val inner = Option(cache.get(centroids)).getOrElse(Map.empty)
    inner.get(k) match {
      case Some(mod) => mod
      case None =>
        val mod = trainEncode(centroids, m, ksub, niter, seed)
        cache.put(centroids, inner + (k -> mod))
        mod
    }
  }

  /** The quantizer's reconstruction of every cell: decode of each
    * centroid's own code — concat over subspaces of cb(m)(code(m)).
    * ADC distance to a code IS the exact squared L2 to this decode,
    * so exact search structures built over the decoded table
    * reproduce the PQ quantizer's assignment and residual semantics
    * exactly (the `IVF<n>(PQ<m>),<code>` composition). */
  def decodedCentroids(model: Model): Array[Array[Float]] = {
    val (cb, codes) = model
    val m = cb.length; val dsub = cb(0)(0).length
    Array.tabulate(codes.length) { i =>
      val out = new Array[Float](m * dsub)
      var mi = 0
      while (mi < m) {
        System.arraycopy(cb(mi)(codes(i)(mi) & 0xff), 0, out, mi * dsub, dsub)
        mi += 1
      }
      out
    }
  }

  /** Full-width Lloyd k-means + integer assignment — the sub-cluster
    * structure of the `IVF<n>(IVF<n2>,Flat)` two-level coarse. Unlike
    * [[trainEncode]] there is no byte code, so nlist2 is unbounded
    * (any sub-centroid count the driver can hold). Memoized like
    * [[model]]. */
  def assignModel(centroids: Array[Array[Float]], k: Int,
      niter: Int = 10, seed: Long = 1234L): (Array[Array[Float]], Array[Int]) =
    assignCache.synchronized {
      val key = (k, niter, seed)
      val inner = Option(assignCache.get(centroids)).getOrElse(Map.empty)
      inner.get(key) match {
        case Some(mod) => mod
        case None =>
          val mod = lloyd(centroids, 0, centroids(0).length,
            math.min(k, centroids.length), niter, new java.util.Random(seed))
          assignCache.put(centroids, inner + (key -> mod))
          mod
      }
    }
  private val assignCache =
    new java.util.WeakHashMap[Array[Array[Float]], Map[(Int, Int, Long), (Array[Array[Float]], Array[Int])]]()

  /** One subspace's Lloyd k-means over [off, off+dsub) ([[Lloyd]]'s
    * rounds; an empty cluster keeps its previous center): returns the
    * trained codebook and each row's final integer assignment. */
  private def lloyd(vecs: Array[Array[Float]], off: Int, dsub: Int,
      ksub: Int, niter: Int, rng: java.util.Random): (Array[Array[Float]], Array[Int]) = {
    val n = vecs.length
    // seeded-shuffle init over the subvectors (distinct rows)
    val order = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val cb0 = Lloyd.flatten(Array.tabulate(ksub)(j => vecs(order(j))), off, dsub)
    val cb = Lloyd.train(vecs, off, dsub, cb0, niter)
    val assign = new Array[Int](n)
    Lloyd.assign(vecs, off, dsub, cb, assign) // final assignment from the trained codebook
    (Lloyd.unflatten(cb, dsub), assign)
  }

  /** Per-subspace Lloyd k-means + encode, all in driver memory. */
  def trainEncode(vecs: Array[Array[Float]], m: Int, ksub: Int,
      niter: Int, seed: Long): Model = {
    val n = vecs.length
    require(n > 0, "empty centroid table")
    val d = vecs(0).length
    require(d % m == 0, s"d=$d not divisible by m=$m")
    require(ksub <= n, s"ksub=$ksub > ${n} centroids to train on")
    require(ksub <= 256, s"coarse-PQ ksub=$ksub > 256 (byte code)")
    val dsub = d / m
    val rng = new java.util.Random(seed)
    val codebooks = Array.ofDim[Array[Array[Float]]](m)
    val codes = Array.fill(n)(new Array[Byte](m))
    var mi = 0
    while (mi < m) {
      val (cb, assign) = lloyd(vecs, mi * dsub, dsub, ksub, niter, rng)
      var r = 0
      while (r < n) { codes(r)(mi) = assign(r).toByte; r += 1 }
      codebooks(mi) = cb
      mi += 1
    }
    (codebooks, codes)
  }
}

/** Driver-side scalar quantizer over an index's CENTROID table — the
  * `IVF<n>(SQ<w>)` paren coarse (index_factory.cpp:719 accepts any
  * factory string as the sub-index; an IndexScalarQuantizer quantizer
  * assigns by ASYMMETRIC distance query → decode(code)). By the same
  * exact-L2-to-the-decode identity [[CoarsePq]] uses, the composition
  * is an IVF over the SQ-DECODED centroid table: the quantizer trains
  * on the centroid set (IndexIVF's train_q1 trains the quantizer on
  * the cluster centers), so the range stats are the per-dimension
  * min/max OVER THE CENTROIDS, and the codec arithmetic is
  * byte-for-byte the engine's Sq/Fp16 kernels. Memoized per centroid
  * identity like [[CoarsePq.model]]. */
object CoarseSq {

  private val cache =
    new java.util.WeakHashMap[Array[Array[Float]], Map[String, Array[Array[Float]]]]()

  def decodedCentroids(centroids: Array[Array[Float]],
      qtype: String): Array[Array[Float]] = cache.synchronized {
    val inner = Option(cache.get(centroids)).getOrElse(Map.empty)
    inner.get(qtype) match {
      case Some(dec) => dec
      case None =>
        val dec = decodeAll(centroids, qtype)
        cache.put(centroids, inner + (qtype -> dec))
        dec
    }
  }

  private def decodeAll(centroids: Array[Array[Float]],
      qtype: String): Array[Array[Float]] = {
    require(centroids.nonEmpty, "empty centroid table")
    val d = centroids(0).length
    if (qtype == "fp16")
      return centroids.map(c => Fp16Kernels.decode(
        Fp16Kernels.encode(new GenericArrayData(c))))
    // RS_minmax over the centroid training set (the trainRange
    // convention of SqIndex at rs = 0)
    val mins = Array.fill(d)(Double.MaxValue)
    val maxs = Array.fill(d)(Double.MinValue)
    centroids.foreach { c =>
      var i = 0
      while (i < d) {
        val x = c(i).toDouble
        if (x < mins(i)) mins(i) = x
        if (x > maxs(i)) maxs(i) = x
        i += 1
      }
    }
    val vdiff = Array.tabulate(d)(i => maxs(i) - mins(i))
    centroids.map { c =>
      val a = new GenericArrayData(c)
      val dec = qtype match {
        case "SQ8" => SqKernels.decode(SqKernels.encode(a, mins, vdiff), mins, vdiff)
        case "SQ4" => Sq4Kernels.decode(Sq4Kernels.encode(a, mins, vdiff), mins, vdiff)
        case "SQ6" => Sq6Kernels.decode(Sq6Kernels.encode(a, mins, vdiff), mins, vdiff)
        case other => throw new IllegalArgumentException(s"unknown SQ type $other")
      }
      dec.map(_.toFloat)
    }
  }
}

/** ADC ranking of cells through the coarse-PQ codes (codegen entry
  * point): per-query subspace LUT, then a scan of the nlist codes —
  * IndexPQ::search over the centroid table with k = nprobe. */
private[graft] object CoarsePqKernels {
  def adcNearestK(a: ArrayData, codebooks: Array[Array[Array[Float]]],
      codes: Array[Array[Byte]], nprobe: Int): ArrayData = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val lut = Array.ofDim[Double](m, ksub)
    var mi = 0
    while (mi < m) {
      val cb = codebooks(mi); val off = mi * dsub
      var j = 0
      while (j < ksub) {
        val c = cb(j); var s = 0.0; var t = 0
        while (t < dsub) { val d = a.getFloat(off + t).toDouble - c(t); s += d * d; t += 1 }
        lut(mi)(j) = s; j += 1
      }
      mi += 1
    }
    val h = new TopKHeap(math.min(nprobe, codes.length), asc = true)
    var i = 0
    while (i < codes.length) {
      val code = codes(i); var s = 0.0; var mm = 0
      while (mm < m) { s += lut(mm)(code(mm) & 0xff); mm += 1 }
      h.insert(s, i.toLong)
      i += 1
    }
    val (ids, scores) = h.sorted()
    val out = new Array[Any](ids.length)
    var k = 0
    while (k < ids.length) { out(k) = InternalRow(ids(k).toInt, scores(k)); k += 1 }
    new GenericArrayData(out)
  }
}

/** Top-nprobe cells ranked by coarse-PQ ADC distance — probe
  * selection under the reference's `IVF<n>(PQ<m>[x<k>])` paren coarse
  * (the quantizer is an IndexPQ over the centroids, so both add-time
  * assignment and search-time probes rank by ADC, not the exact
  * argmin). Same output contract as [[NearestCentroids]]; ties break
  * on the lower list_no. */
case class NearestCentroidsAdc(child: Expression,
    codebooks: Array[Array[Array[Float]]], codes: Array[Array[Byte]],
    nprobe: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroids_adc"

  override def nullSafeEval(v: Any): Any =
    CoarsePqKernels.adcNearestK(v.asInstanceOf[ArrayData], codebooks,
      codes, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
    val cs = ctx.addReferenceObj("codes", codes, "byte[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.CoarsePqKernels.adcNearestK($c, $cb, $cs, $nprobe)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
