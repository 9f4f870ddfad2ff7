package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{NearestCentroid, PQEncode}
import graft.functions.{vec_add, vec_sub}

/** Index2Layer (faiss/Index2Layer.h:29: "Same as an IndexIVFPQ without
  * the inverted lists: codes are stored sequentially"; search is
  * deliberately not implemented in the reference, Index2Layer.h:53 —
  * the class is random-access encoded storage, e.g. the backing store
  * for a graph index).
  *
  * Spark shape: a flat (id, list_no, code) DataFrame — NOT partitioned
  * by list_no (that is the whole point vs IVFPQ); the coarse id is
  * part of the payload so any row can be reconstructed independently.
  * At 100 TB this is a plain columnar table: reconstruction is a
  * narrow per-row map (broadcast centroid lookup + in-row PQ decode),
  * no shuffle at all.
  */
class TwoLayerIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model: PqModel,
    /** (id, list_no, code) — sequential storage, no list partitioning */
    val codes: DataFrame) {

  /** reconstruct_n (Index2Layer.cpp reconstruct): coarse centroid +
    * PQ-decoded residual, one row per stored vector. */
  def reconstruct: DataFrame =
    codes.join(broadcast(Probes.centroidsDf(codes.sparkSession, centroids)), "list_no")
      .select(col("id"),
        vec_add(col("centroid"), model.decodeCol(col("code"))).as("vec"))
}

object TwoLayerIndex {

  /** Train coarse (nlist k-means) + residual PQ, then encode every
    * row — the `Residual<nlist>,PQ<m>` factory combination
    * (index_factory.cpp:280-287 use_2layer). */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int = 256,
      niterCoarse: Int = 5, niterPq: Int = 5,
      seed: Long = 1234L): TwoLayerIndex = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val km = graft.cluster.KMeans.fit(vecs, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse, seed = seed))
    val assigned = vecs
      .withColumn("_a", shim.col(NearestCentroid(shim.expr(col("vec")), km.centroids)))
      .withColumn("list_no", col("_a.list_no")).drop("_a")
    val centDf = Probes.centroidsDf(df.sparkSession, km.centroids)
    val residuals = assigned.join(broadcast(centDf), "list_no")
      .select(col("id"), col("list_no"), vec_sub(col("vec"), col("centroid")).as("_res"))
    val pq = Pq.train(residuals.select(col("_res")), "_res", m, ksub,
      niter = niterPq, seed = seed)
    val codes = residuals.select(col("id"), col("list_no"),
      shim.col(PQEncode(shim.expr(col("_res")), pq.codebooks)).as("code"))
    new TwoLayerIndex(nlist, km.centroids, pq, codes)
  }
}

/** Index2Layer with a MultiIndexQuantizer first layer — the
  * `Residual<M>x<nbit>,PQ<m>` factory form (index_factory.cpp:270-278:
  * `Residual([0-9]+)x([0-9]+)` returns a MultiIndexQuantizer with
  * nlist = 2^(M·nbit) and use_2layer = true). Same sequential-storage
  * contract as [[TwoLayerIndex]], but the first-layer cell decomposes
  * into M per-subspace codebook indexes, so the cell centroid is
  * never materialized as a 2^(M·nbit)-row table: reconstruction
  * concatenates the M subspace centroids, each attached by projection
  * (the ImiProbes convention — our cell digit order puts subspace 0
  * in the HIGH digits, documented engine-wide).
  */
class MiqTwoLayerIndex(
    val mCoarse: Int,
    val ksub: Int,
    val coarse: PqModel,
    val model: PqModel,
    /** (id, cell, code) — sequential storage, cell = Σ j_m·K^(M-1-m) */
    val codes: DataFrame) {

  def nlist: Long = {
    var n = 1L; var i = 0
    while (i < mCoarse) { n *= ksub; i += 1 }
    n
  }

  /** Release the cached codes table (the ImiPqIndex convention). */
  def close(): Unit = codes.unpersist(blocking = false)

  /** reconstruct_n: concat of the M coarse half-centroids (decoded
    * from the cell's digits) + the PQ-decoded residual. */
  def reconstruct: DataFrame = {
    // j_i = (cell div K^(M-1-i)) % K — INTEGER digit extraction
    // (Spark's `/` on longs is double division, inexact past 2^53)
    val digits = (0 until mCoarse).map { i =>
      var p = 1L; var t = 0
      while (t < mCoarse - 1 - i) { p *= ksub; t += 1 }
      expr(s"(cell div ${p}L) % ${ksub}L").cast("int")
    }
    codes.select(col("id"),
      vec_add(ImiProbes.centroid(digits, coarse), model.decodeCol(col("code"))).as("vec"))
  }
}

object MiqTwoLayerIndex {

  /** Train the M-subspace coarse (a PQ over the raw vectors — the
    * MultiIndexQuantizer) + residual PQ, then encode every row.
    * Cell assignment runs per-subspace integer argmins
    * ([[graft.core.PQSubAssign]]) so no half index ever truncates
    * through a byte code, at any nbit. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      mCoarse: Int, nbit: Int, m: Int, ksub: Int = 256,
      niterCoarse: Int = 5, niterPq: Int = 5,
      seed: Long = 1234L): MiqTwoLayerIndex = {
    // cell = Σ j_m·K^(M-1-m) must fit a Long with headroom
    require(mCoarse * nbit <= 62,
      s"Residual${mCoarse}x$nbit: ${mCoarse * nbit} cell bits > 62 (Long)")
    require(nbit <= 24, s"Residual${mCoarse}x$nbit: nbit too large")
    val k = 1 << nbit
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = Pq.train(data, "vec", mCoarse, k, niter = niterCoarse,
      seed = seed)
    val dsub = coarse.dsub
    var assigned = data
    for (mm <- 0 until mCoarse)
      assigned = assigned.withColumn(s"_j$mm",
        shim.col(graft.core.PQSubAssign(shim.expr(lit(mm)),
          shim.expr(slice(col("vec"), mm * dsub + 1, dsub)),
          coarse.codebooks)))
    val cell = (0 until mCoarse).map(mm => col(s"_j$mm").cast("long"))
      .reduceLeft((acc, j) => acc * k + j)
    val cent = ImiProbes.centroid((0 until mCoarse).map(mm => col(s"_j$mm")), coarse)
    val residuals = assigned
      .select(col("id"), cell.as("cell"), vec_sub(col("vec"), cent).as("_res"))
    val cachedRes = residuals.cache()
    try {
      val pq = Pq.train(cachedRes.select(col("_res")), "_res", m, ksub,
        niter = niterPq, seed = seed)
      val codes = cachedRes.select(col("id"), col("cell"),
        shim.col(PQEncode(shim.expr(col("_res")), pq.codebooks)).as("code"))
        .cache()
      codes.count()
      new MiqTwoLayerIndex(mCoarse, k, coarse, pq, codes)
    } finally cachedRes.unpersist(blocking = false)
  }
}
