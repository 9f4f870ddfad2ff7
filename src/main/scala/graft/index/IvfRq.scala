package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{NearestCentroids, TopKAgg}
import graft.functions.{l2sq, vec_add, vec_sub}

/** IndexIVFResidualQuantizer (faiss/IndexIVFAdditiveQuantizer.h:26,64):
  * coarse quantizer + residual (additive) quantizer codes per list,
  * searched by reconstruction distance over the probed lists — the
  * AQ_decompress search type (impl/AdditiveQuantizer.h:58: decode the
  * code, compute the exact distance to the decoded vector).
  *
  * Composes the shared IVF scan ([[Probes.scan]]: static list_no
  * pruning from a driver-side probe set, base never shuffles; ranked by
  * [[graft.core.TopKAgg.ranked]]) with the RQ expression
  * kernels (beam-search + optional ICM encode, in-row decode). At
  * 100 TB: per probed list the scan reads L*log2(k) bits + 8-byte id
  * per row; decode + distance run inside the projection, no joins
  * beyond the broadcast probe table.
  */
class IvfRqIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model: RqModel,
    /** (id, list_no, code array<int>) */
    val codes: DataFrame) {

  /** Per-instance id for the executor-side graph coarse cache. */
  private val graphCacheKey = java.util.UUID.randomUUID().toString

  /** `coarse = Some(HnswCoarse/NsgCoarse)` walks a per-executor graph
    * over the centroids instead of the exact argmin (the
    * `IVF<n>_{HNSW,NSG}<m>,{RQ,LSQ}...` factory compositions; budget
    * >= nlist degenerates to exact). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)))
    val cand = Probes.scan(codes, probesPlan, Some(probed))
      .select(col(queryId), col("id"),
        l2sq(col(queryVec), vec_add(Probes.centroid(col("list_no"), centroids),
          model.decodeCol(col("code")))).as("_dist"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }

  /** The ST_norm_* / ST_LUT_nonorm LUT scan over the SAME residual
    * lists (AQInvertedListScannerLUT, IndexIVFAdditiveQuantizer.cpp:
    * 204-244 — the `IVF<n>,RQ<L>x<nb>_N<norm>` factory clause,
    * index_factory.cpp:293-430): per probed list the query residual
    * q−c drives a per-(query,list) codeword LUT, and the stored
    * (possibly quantized) reconstruction norm replaces the decode:
    *
    *   ||q − (c + x̂)||² = ||q−c||² − 2<q−c, x̂> + ||x̂||²
    *                  = coarse_dis − 2·Σ_l LUT[code_l] + norm_q
    *
    * `codesNq` is the codes table carrying the decoded quantized norm
    * (`nq` column, absent in nonorm mode where the formula drops the
    * last term — ST_LUT_nonorm under L2, still ranked ascending). The
    * LUT is computed ONCE per (query, probed list) inside the
    * broadcast probe table (levels·k doubles per row, bounded by
    * nq·nprobe), so the per-row scan cost is L lookups + one add —
    * the same integer-light shape as the reference's scan loop; the
    * base never shuffles. */
  def searchNormLut(queries: DataFrame, k: Int, nprobe: Int,
      codesNq: DataFrame, nonorm: Boolean = false,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val c = Probes.centroid(col("list_no"), centroids)
    val probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .select(col(queryId), col("list_no"),
        l2sq(col(queryVec), c).as("_cd"),
        model.lutCol(vec_sub(col(queryVec), c)).as("_lut"))
    val ip = model.ipFromLutCol(col("code"), col("_lut"))
    val d = if (nonorm) col("_cd") - lit(2.0) * ip
      else col("_cd") - lit(2.0) * ip + col("nq")
    TopKAgg.ranked(Probes.scan(codesNq, probesPlan, Some(probed))
      .select(col(queryId), col("id"), d.as("_dist")),
      Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }

  /** Lossy reconstruction: centroid + decoded residual, shuffle-free. */
  def reconstruct: DataFrame = {
    codes.join(broadcast(Probes.centroidsDf(codes.sparkSession, centroids)), "list_no")
      .select(col("id"),
        vec_add(col("centroid"), model.decodeCol(col("code"))).as("vec"))
  }
}

/** User-facing carrier of the `IVF<n>,{RQ|LSQ}<L>x<nb>_N<norm>` LUT
  * form's persistable state (write_index of IndexIVFAdditiveQuantizer,
  * faiss/impl/index_write.cpp: coarse centroids + AQ codebooks + codes
  * + stored norms). `codesNq` is the scanned table carrying the
  * DECODED stored norm (`nq` double column; absent in nonorm mode) —
  * the norm codec's trained state is baked into those decoded values
  * (the scan never re-encodes a norm), so persistence stores them
  * directly: bit-identical search on load, no codec retrain. */
class IvfRqNormIndex(val idx: IvfRqIndex, val codesNq: DataFrame,
    val nonorm: Boolean) {
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame =
    idx.searchNormLut(queries, k, nprobe, codesNq, nonorm,
      queryId, queryVec, coarse)
}

object IvfRq {

  /** Coarse k-means + RQ trained on residuals + encode
    * (IndexIVFAdditiveQuantizer::train_encoder / encode_vectors,
    * by_residual always true for the IVF-RQ path). */
  /** ivf_residual_from_quantizer (faiss/IVFlib.h:154): build the IVF
    * from an ALREADY-TRAINED residual quantizer — the RQ's first
    * level becomes the coarse quantizer (nlist = k), the remaining
    * levels the invlist codes. Decode identity: cb0[c0] + Σ cbl[cl] =
    * centroid + inner-decode, so search is unchanged. */
  def fromQuantizer(model: RqModel): (Array[Array[Float]], RqModel) = {
    require(model.levels >= 2, "need at least one level beyond the coarse")
    (model.codebooks(0),
      RqModel(model.levels - 1, model.k, model.codebooks.drop(1)))
  }

  /** ivf_residual_add_from_flat_codes (faiss/IVFlib.h:166): bulk-load
    * PRE-ENCODED full RQ codes — the first-level code IS the coarse
    * assignment, so population never touches a raw vector (the 100 TB
    * re-ingest path: codes are bytes, vectors are 8-32× bigger). */
  def addFromFlatCodes(model: RqModel, codes: DataFrame,
      idCol: String = "id", codesCol: String = "codes"): IvfRqIndex = {
    val (centroids, inner) = fromQuantizer(model)
    val df = codes.select(col(idCol).as("id"),
      element_at(col(codesCol), 1).as("list_no"),
      slice(col(codesCol), 2, model.levels - 1).as("code"))
    new IvfRqIndex(centroids.length, centroids, inner, df)
  }

  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, levels: Int = 2, k: Int = 16,
      niterCoarse: Int = 6, niterRq: Int = 5,
      beam: Int = 1, icmIters: Int = 0, seed: Long = 1234L): IvfRqIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = graft.cluster.KMeans.fit(data, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse, seed = seed))
    val assigned = coarse.assign(data, "vec")
      .join(broadcast(Probes.centroidsDf(df.sparkSession, coarse.centroids)), "list_no")
      .select(col("id"), col("list_no"), vec_sub(col("vec"), col("centroid")).as("res"))
      .cache()
    try {
      val model = Rq.train(assigned, "res", levels, k, niterRq, seed, beam)
      val codes = assigned.select(col("id"), col("list_no"),
        model.encodeCol(col("res"), beam, icmIters).as("code"))
      val mat = codes.cache()
      mat.count()
      new IvfRqIndex(nlist, coarse.centroids, model, mat)
    } finally assigned.unpersist()
  }
}
