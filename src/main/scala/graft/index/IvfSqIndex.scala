package graft.index

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{NearestCentroids, SQAdcL2, SQEncode, TopKAgg, VecMinMaxAgg}
import graft.functions.vec_sub

/** IVF + scalar-quantized codes (IndexIVFScalarQuantizer,
  * faiss/IndexScalarQuantizer.h:64): the shared IVF scan of
  * [[IvfIndex]] ([[Probes.scan]] and [[graft.core.TopKAgg.ranked]])
  * with SQ8 codes instead of raw floats in the inverted
  * lists — 4× less data scanned per probe.
  *
  * `byResidual = true` (the reference default) encodes
  * vec − centroid(list): residuals concentrate near 0, so the shared
  * per-dim range wastes fewer bits; the query side subtracts the
  * probed centroid before the ADC distance, exactly as
  * IndexIVFScalarQuantizer::search does with its residual buffer.
  */
class IvfSqIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val vmin: Array[Double],
    val vdiff: Array[Double],
    val byResidual: Boolean,
    /** (id, list_no, code) */
    val codes: DataFrame,
    /** quantizer width: SQ8 (default) | SQ4 | SQ6 | fp16. */
    val qtype: String = "SQ8") {

  /** Release the cached codes table (build() caches it); an index
    * discarded without close() pins that storage until session end
    * (the x4fsr convention — the factory wires this into
    * Built.close()). */
  def close(): Unit = codes.unpersist(blocking = false)

  /** Per-instance id for the executor-side graph coarse cache. */
  private val graphCacheKey = java.util.UUID.randomUUID().toString

  /** `coarse = Some(HnswCoarse/NsgCoarse)` walks a per-executor graph
    * over the centroids instead of the exact argmin (the
    * `IVF<n>_{HNSW,NSG}<m>,SQ<w>` factory compositions; budget >=
    * nlist degenerates to exact). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    var probes = Probes.rows(q, Seq(col(queryId), col(queryVec)))
    if (byResidual)
      probes = probes.select(col(queryId), col("list_no"),
        vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids)).as(queryVec))
    val cand = Probes.scan(codes, probes, Some(probed))
      .select(col(queryId), col("id"),
        shim.col(SqVariant.adcL2(qtype, shim.expr(col(queryVec)),
          shim.expr(col("code")), vmin, vdiff)).as("_dist"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }
}

object IvfSqIndex {
  /** `centroids0` replaces the internal k-means with a caller-supplied
    * centroid table — the lossy-quantizer composition (see
    * [[graft.index.IvfPqIndex.build]]: ADC-to-a-code == exact L2 to
    * its decode, so the decoded table reproduces a PQ quantizer's
    * assignment and residual semantics exactly). */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, niter: Int = 4, seed: Long = 1234L,
      byResidual: Boolean = false, qtype: String = "SQ8",
      centroids0: Array[Array[Float]] = null): IvfSqIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents =
      if (centroids0 != null) {
        require(centroids0.length == nlist,
          s"centroids0 has ${centroids0.length} rows, nlist = $nlist")
        centroids0
      } else graft.cluster.KMeans.fit(data, "vec",
        graft.cluster.KMeans.Params(k = nlist, niter = niter, seed = seed))
        .centroids
    val centDf = Probes.centroidsDf(df.sparkSession, cents)
    val assigned0 = data
      .withColumn("_a", shim.col(graft.core.NearestCentroid(
        shim.expr(col("vec")), cents, "l2sq")))
      .withColumn("list_no", col("_a.list_no")).drop("_a")
    val toEncode =
      if (byResidual)
        assigned0.join(broadcast(centDf), "list_no")
          .select(col("id"), col("list_no"),
            vec_sub(col("vec"), col("centroid")).as("enc"))
      else assigned0.select(col("id"), col("list_no"), col("vec").as("enc"))
    val cached = toEncode.cache()
    try {
      val (mins, vdiff) =
        if (SqVariant.needsRange(qtype)) {
          val mm = cached.agg(shim.agg(VecMinMaxAgg(shim.expr(col("enc")))).as("_mm"))
            .select(col("_mm.mins"), col("_mm.maxs")).collect().head
          val mins0 = mm.getSeq[Double](0).toArray
          val maxs0 = mm.getSeq[Double](1).toArray
          (mins0, mins0.indices.map(i => maxs0(i) - mins0(i)).toArray)
        } else (Array.empty[Double], Array.empty[Double])
      val codes = cached.select(col("id"), col("list_no"),
        shim.col(SqVariant.encode(qtype, shim.expr(col("enc")), mins, vdiff)).as("code"))
      val mat = codes.cache()
      mat.count()
      new IvfSqIndex(nlist, cents, mins, vdiff, byResidual, mat, qtype)
    } finally cached.unpersist()
  }
}
