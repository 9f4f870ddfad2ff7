package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Distance from an ArrayData row vector to a plain float[] centroid. */
private[graft] object CentroidKernels {
  def dist(a: ArrayData, c: Array[Float], metric: String): Double = {
    val n = c.length
    metric match {
      case "l2sq" =>
        var s = 0.0; var i = 0
        while (i < n) { val d = a.getFloat(i).toDouble - c(i); s += d * d; i += 1 }
        s
      case "ip" | "cosine" => // cosine assumes pre-normalized inputs (faiss convention)
        var s = 0.0; var i = 0
        while (i < n) { s += a.getFloat(i).toDouble * c(i); i += 1 }
        s
      case m => throw new IllegalArgumentException(s"centroid metric $m")
    }
  }
  /** argmin over the centroid table (codegen entry point) */
  def nearest(a: ArrayData, centroids: Array[Array[Float]], metric: String): InternalRow = {
    val asc = Metric.ascending(metric)
    var best = -1; var bestD = if (asc) Double.MaxValue else Double.MinValue
    var j = 0
    while (j < centroids.length) {
      val d = dist(a, centroids(j), metric)
      if (if (asc) d < bestD else d > bestD) { best = j; bestD = d }
      j += 1
    }
    InternalRow(best, bestD)
  }
  /** top-nprobe centroids best-first (codegen entry point) */
  def nearestK(a: ArrayData, centroids: Array[Array[Float]], nprobe: Int,
      metric: String): ArrayData = {
    val asc = Metric.ascending(metric)
    val h = new TopKHeap(math.min(nprobe, centroids.length), asc)
    var j = 0
    while (j < centroids.length) {
      h.insert(dist(a, centroids(j), metric), j.toLong)
      j += 1
    }
    val (ids, scores) = h.sorted()
    val out = new Array[Any](ids.length)
    var i = 0
    while (i < ids.length) { out(i) = InternalRow(ids(i).toInt, scores(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** The coarse-quantizer assignment: nearest centroid of a small
  * centroid table embedded in the plan (shipped once per task, like a
  * broadcast). This is Level1Quantizer::train_q1's assign step and
  * IndexIVF's quantizer->search(n, x, 1, ...) (faiss/IndexIVF.cpp:330,
  * faiss/Clustering.cpp assign loop).
  *
  * Returns struct(list_no: int, dist: double). Ties break on the lower
  * list_no (faiss argmin semantics).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]],
    metric: String = "l2sq") extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any =
    CentroidKernels.nearest(v.asInstanceOf[ArrayData], centroids, metric)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.core.CentroidKernels.nearest($c, $cs, \"$metric\")")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Executor-JVM cache of HNSW graphs over centroid tables, keyed by a
  * driver-assigned id. The graph is built once per executor process
  * (first task to need it pays the O(nlist log nlist) build; every
  * later task and row reuses it) — the dataflow stand-in for the
  * reference's single trained quantizer object. */
private[graft] object CentroidHnswCache {
  /** Bounded LRU: the working set is one graph per LIVE IVF index, so
    * a long session building many indexes no longer accumulates one
    * (potentially nlist ~ 1M-sized) graph per index forever. Evicting
    * a still-used graph is safe — the next touch rebuilds it. */
  private val MaxEntries = 8
  private val cache =
    new java.util.LinkedHashMap[String, graft.knn.LocalHnsw](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, graft.knn.LocalHnsw]): Boolean =
        size() > MaxEntries
    }
  def get(key: String, centroids: Array[Array[Float]], m: Int,
      efConstruction: Int): graft.knn.LocalHnsw = cache.synchronized {
    val existing = cache.get(key)
    if (existing != null) existing
    else {
      val g = new graft.knn.LocalHnsw(m, efConstruction, seed = 42L)
      var i = 0
      while (i < centroids.length) { g.add(i.toLong, centroids(i)); i += 1 }
      cache.put(key, g)
      g
    }
  }
  /** codegen entry point: graph-walk probe list as an ArrayData */
  def searchData(a: ArrayData, cacheKey: String, centroids: Array[Array[Float]],
      nprobe: Int, efSearch: Int, m: Int): ArrayData = {
    val g = get(cacheKey, centroids, m, efConstruction = 2 * m)
    val res = g.search(a.toFloatArray(), math.min(nprobe, centroids.length),
      math.max(efSearch, nprobe))
    val out = new Array[Any](res.length)
    var i = 0
    while (i < res.length) { out(i) = InternalRow(res(i)._1.toInt, res(i)._2); i += 1 }
    new GenericArrayData(out)
  }
}

/** HNSW-accelerated probe-list computation — the coarse quantizer of
  * the reference's `IVF{n}_HNSW{m}` grammar (index_factory.cpp:241-291
  * coarse grammar; IndexHNSWFlat as quantizer). Exact assignment is
  * O(nlist·d) per row, which at nlist ~ 1M centroids dominates the
  * whole search; the graph walk is O(ef·log nlist·d). efSearch >=
  * nlist degenerates to the exact probe set (the oracle gate).
  * L2 only, like the reference's HNSW coarse quantizer. Same output
  * contract as [[NearestCentroids]]. */
case class NearestCentroidsHnsw(child: Expression,
    centroids: Array[Array[Float]], nprobe: Int, efSearch: Int,
    m: Int, cacheKey: String)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroids_hnsw"

  override def nullSafeEval(v: Any): Any =
    CentroidHnswCache.searchData(v.asInstanceOf[ArrayData], cacheKey,
      centroids, nprobe, efSearch, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.CentroidHnswCache.searchData($c, \"$cacheKey\", $cs, $nprobe, $efSearch, $m)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-nprobe nearest centroids — the IVF probe-list computation
  * (faiss/IndexIVF.cpp:330 quantizer->search with k=nprobe). Returns
  * array<struct<list_no:int, dist:double>> best-first. */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]],
    nprobe: Int, metric: String = "l2sq")
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override def nullSafeEval(v: Any): Any =
    CentroidKernels.nearestK(v.asInstanceOf[ArrayData], centroids, nprobe, metric)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.core.CentroidKernels.nearestK($c, $cs, $nprobe, \"$metric\")")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-executor cache of NSG graphs over an index's centroid table —
  * the NSG twin of [[CentroidHnswCache]] (one graph per live IVF
  * index, bounded LRU, first-toucher builds). */
private[graft] object CentroidNsgCache {
  private val MaxEntries = 8
  private val cache =
    new java.util.LinkedHashMap[String, graft.knn.LocalNsg](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, graft.knn.LocalNsg]): Boolean =
        size() > MaxEntries
    }
  def get(key: String, centroids: Array[Array[Float]], r: Int): graft.knn.LocalNsg =
    cache.synchronized {
      val existing = cache.get(key)
      if (existing != null) existing
      else {
        val ids = Array.tabulate(centroids.length)(_.toLong)
        val g = new graft.knn.LocalNsg(ids, centroids, r = r,
          buildL = math.max(64, 2 * r))
        cache.put(key, g)
        g
      }
    }
  /** codegen entry point: graph-walk probe list as an ArrayData */
  def searchData(a: ArrayData, cacheKey: String, centroids: Array[Array[Float]],
      nprobe: Int, searchL: Int, r: Int): ArrayData = {
    val g = get(cacheKey, centroids, r)
    val res = g.search(a.toFloatArray(), math.min(nprobe, centroids.length),
      math.max(searchL, nprobe))
    val out = new Array[Any](res.length)
    var i = 0
    while (i < res.length) { out(i) = InternalRow(res(i)._1.toInt, res(i)._2); i += 1 }
    new GenericArrayData(out)
  }
}

/** NSG-accelerated probe-list computation — the coarse quantizer of
  * the reference's `IVF{n}_NSG{R}` grammar (index_factory.cpp:258-262;
  * IndexNSGFlat as quantizer). Same contract as
  * [[NearestCentroidsHnsw]]: searchL >= nlist degenerates to the
  * exact probe set (the NSG pool seeds every node — the oracle gate),
  * L2 only. */
case class NearestCentroidsNsg(child: Expression,
    centroids: Array[Array[Float]], nprobe: Int, searchL: Int,
    r: Int, cacheKey: String)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroids_nsg"

  override def nullSafeEval(v: Any): Any =
    CentroidNsgCache.searchData(v.asInstanceOf[ArrayData], cacheKey,
      centroids, nprobe, searchL, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.CentroidNsgCache.searchData($c, \"$cacheKey\", $cs, $nprobe, $searchL, $r)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Two-level probe-list computation — the coarse quantizer is itself
  * an IVF-Flat over the centroid table (the reference's parenthesized
  * `IVF<n>(IVF<n2>,Flat)` grammar, index_factory.cpp:263-267: the
  * quantizer ranks the nlist2 sub-centroids, scans the centroids of
  * the best nprobe2 sub-cells, and returns the top-nprobe among
  * them). The big-nlist scale path when even the graph walk's
  * per-query cost matters: the scan touches ~nprobe2/nlist2 of the
  * centroid table. nprobe2 >= nlist2 degenerates to the exact
  * ranking (every sub-cell scanned — the oracle-gate convention);
  * smaller nprobe2 is the reference's quantizer_nprobe regime. Ties
  * break on the lower id at both levels (faiss argmin semantics). */
private[graft] object CentroidIvf2Kernels {
  def nearestK(a: ArrayData, subCents: Array[Array[Float]],
      assign: Array[Int], centroids: Array[Array[Float]],
      nprobe2: Int, nprobe: Int): ArrayData = {
    val n2 = subCents.length
    val h2 = new TopKHeap(math.min(nprobe2, n2), asc = true)
    var j = 0
    while (j < n2) {
      h2.insert(CentroidKernels.dist(a, subCents(j), "l2sq"), j.toLong)
      j += 1
    }
    val (cells, _) = h2.sorted()
    val sel = new Array[Boolean](n2)
    var c = 0
    while (c < cells.length) { sel(cells(c).toInt) = true; c += 1 }
    val h = new TopKHeap(math.min(nprobe, centroids.length), asc = true)
    var i = 0
    while (i < centroids.length) {
      if (sel(assign(i)))
        h.insert(CentroidKernels.dist(a, centroids(i), "l2sq"), i.toLong)
      i += 1
    }
    val (ids, scores) = h.sorted()
    val out = new Array[Any](ids.length)
    var k = 0
    while (k < ids.length) { out(k) = InternalRow(ids(k).toInt, scores(k)); k += 1 }
    new GenericArrayData(out)
  }
}

/** See [[CentroidIvf2Kernels]]. Same output contract as
  * [[NearestCentroids]] (may return fewer than nprobe rows when the
  * scanned sub-cells hold fewer centroids). */
case class NearestCentroidsIvf2(child: Expression,
    subCents: Array[Array[Float]], assign: Array[Int],
    centroids: Array[Array[Float]], nprobe2: Int, nprobe: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroids_ivf2"

  override def nullSafeEval(v: Any): Any =
    CentroidIvf2Kernels.nearestK(v.asInstanceOf[ArrayData], subCents,
      assign, centroids, nprobe2, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sc = ctx.addReferenceObj("subCents", subCents, "float[][]")
    val asg = ctx.addReferenceObj("assign", assign, "int[]")
    val cs = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.CentroidIvf2Kernels.nearestK($c, $sc, $asg, $cs, $nprobe2, $nprobe)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The inverted multi-index's cell ranking (MultiIndexQuantizer2::search,
  * faiss/IndexPQ.cpp:1042): each half-space ranks its ksub
  * half-centroids through the query's half LUT ([[PqKernels.lut]]) and
  * keeps the top k2 = min(max(nprobe, 1), ksub); the cells are the
  * k2·k2 pairs (j0, j1) → cell j0·ksub + j1 at distance d0 + d1, and
  * the top nprobe by (distance, cell) are returned best-first. Min-sum
  * over per-half top-k2 is exhaustive for any final rank <= k2, and k2
  * caps at ksub, so the result is the top nprobe of all ksub² cells. */
private[graft] object CentroidImiKernels {
  def nearestCells(a: ArrayData, codebooks: Array[Array[Array[Float]]],
      nprobe: Int): ArrayData = {
    val ksub = codebooks(0).length
    val lut = PqKernels.lut(a, codebooks)
    val k2 = math.min(math.max(nprobe, 1), ksub)
    def half(m: Int): (Array[Long], Array[Double]) = {
      val h = new TopKHeap(k2, asc = true)
      var j = 0
      while (j < ksub) { h.insert(lut(m * ksub + j), j.toLong); j += 1 }
      h.sorted()
    }
    val (j0, d0) = half(0)
    val (j1, d1) = half(1)
    val np = math.min(math.max(nprobe, 0), k2 * k2)
    val h = new TopKHeap(np, asc = true)
    var x = 0
    while (np > 0 && x < k2) {
      var y = 0
      while (y < k2) { h.insert(d0(x) + d1(y), j0(x) * ksub + j1(y)); y += 1 }
      x += 1
    }
    val (cells, dists) = h.sorted()
    val out = new Array[Any](cells.length)
    var i = 0
    while (i < cells.length) { out(i) = InternalRow(cells(i).toInt, dists(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** See [[CentroidImiKernels]]: the probe selector of the IMI families
  * over the two half-space codebooks of a 2-subspace coarse PQ. Same
  * output contract as [[NearestCentroids]], with the cell id in
  * `list_no`. */
case class NearestCellsImi(child: Expression,
    codebooks: Array[Array[Array[Float]]], nprobe: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("list_no", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_cells_imi"

  override def nullSafeEval(v: Any): Any =
    CentroidImiKernels.nearestCells(v.asInstanceOf[ArrayData], codebooks, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.CentroidImiKernels.nearestCells($c, $cb, $nprobe)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
