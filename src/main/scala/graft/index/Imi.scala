package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{NearestCellsImi, PQSubAssign, TopKAgg}
import graft.functions.vec_dist

/** IMI — inverted multi-index (MultiIndexQuantizer, faiss/IndexPQ.h:139-171,
  * used as the `IMI2x…` coarse quantizer of every SIFT1B/Deep1B
  * baseline): the coarse quantizer is a 2-subspace product quantizer,
  * so the cell table is the CARTESIAN product of two K-entry codebooks
  * — K² cells from 2K trained centroids. Cell distance decomposes as
  * d(q, cell(j1,j2)) = d(q_half1, cb1[j1]) + d(q_half2, cb2[j2]), so
  * probe selection ranks cell sums computed from two K-entry LUTs
  * (faiss's multi-sequence scan, IndexPQ.cpp MultiIndexQuantizer::search).
  *
  * Spark shape: training reuses the joint subspace Lloyd of
  * [[Pq.train]] (m=2); cell assignment is one [[PQEncode]] expression;
  * probe selection is the in-process MinSumK selector
  * ([[ImiProbes.local]]); the scan is the same statically pruned cell
  * scan as [[IvfIndex]] — at scale the K² cells partition the corpus
  * finer than plain IVF for the same training cost (256 cells from 32
  * centroids here).
  */
class ImiIndex(
    val ksub: Int,
    val model: PqModel,
    /** (id, vec, cell) */
    val invlists: DataFrame) {

  def nlist: Int = ksub * ksub

  /** Exact-distance search over the nprobe best cells
    * ([[ImiProbes.local]]: the per-half top-k2 and min-sum combine of
    * MultiIndexQuantizer2::search, which never ranks all K² cells), the
    * pruned cell scan ([[Probes.scan]]) and the ranked top-k. Output
    * (qid, rank, id, dist). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      metric: String = "l2sq"): DataFrame = {
    val (probes, probed) = ImiProbes.local(queries, model, nprobe, queryId, queryVec)
    TopKAgg.ranked(
      Probes.scan(invlists, probes, Some(probed), "cell")
        .select(col(queryId), col("id"),
          vec_dist(col(queryVec), col("vec"), metric).as("_d")),
      Seq(col(queryId)), col("_d"), col("id"), k, asc = true)
  }

  /** MultiIndexQuantizer2 search (faiss/IndexPQ.h:171, "the PQ
    * assignment is performed by sub-indexes"): [[search]], whose
    * selector already runs each half-space's top-k2 through the half
    * LUT (the default flat sub-index) and the MinSumK combine. */
  def search2(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      metric: String = "l2sq"): DataFrame =
    search(queries, k, nprobe, queryId, queryVec, metric)
}

object ImiIndex {
  /** Train the 2-subspace coarse quantizer + assign every row to its
    * cartesian cell. */
  def build(df: DataFrame, idCol: String, vecCol: String, ksub: Int = 16,
      niter: Int = 6, seed: Long = 1234L): ImiIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val model = Pq.train(data, "vec", m = 2, ksub = ksub, niter = niter, seed = seed)
    val dsub = model.dsub
    // cell = argmin(half1)*K + argmin(half2) — first-wins ties, the
    // same per-subspace assignment the training loop uses
    val j0 = shim.col(PQSubAssign(shim.expr(lit(0)),
      shim.expr(slice(col("vec"), 1, dsub)), model.codebooks))
    val j1 = shim.col(PQSubAssign(shim.expr(lit(1)),
      shim.expr(slice(col("vec"), dsub + 1, dsub)), model.codebooks))
    val invlists = data.select(col("id"), col("vec"),
      (j0 * ksub + j1).as("cell"))
    new ImiIndex(ksub, model, invlists)
  }
}

/** Shared IMI probe step and cell-centroid projection (one definition
  * for ImiIndex, ImiPqIndex, ImiSqIndex and the MIQ two-layer index, so
  * a tie-break or decode fix reaches all of them). */
private[index] object ImiProbes {

  /** The probe step of every IMI search, the one of every IVF family
    * ([[Probes.local]]): the [[graft.core.NearestCellsImi]] selector
    * (per-half top-k2 through the half LUTs, k2 = min(nprobe, ksub),
    * min-sum combine, top nprobe cells by (cell distance, cell)) over
    * `queries`' (queryId, queryVec). Returns the probe rows (queryId,
    * queryVec, [pr,] cell), with `ranked` the 0-based probe rank `pr`
    * (best cell first, so an autotune sweep keeps the nprobe = j set
    * as `pr < j`), and the probed cells. */
  def local(queries: DataFrame, coarse: PqModel, nprobe: Int, queryId: String,
      queryVec: String, ranked: Boolean = false): (DataFrame, Array[Int]) = {
    val (q, probed) = Probes.local(queries.select(col(queryId), col(queryVec)), queryVec,
      shim.col(NearestCellsImi(shim.expr(col(queryVec)), coarse.codebooks, nprobe)),
      coarse.m * coarse.dsub)
    (Probes.rows(q, Seq(col(queryId), col(queryVec)), ranked)
      .withColumnRenamed("list_no", "cell"), probed)
  }

  /** The centroid of the cell whose per-subspace indexes are `js` (one
    * per subspace of the multi-index `coarse`, in order): the subspace
    * centroids, each attached by projection ([[Probes.centroid]]),
    * concatenated — never a K^M-row centroid table. */
  def centroid(js: Seq[Column], coarse: PqModel): Column =
    concat(js.zipWithIndex.map { case (j, m) => Probes.centroid(j, coarse.codebooks(m)) }: _*)

  /** [[centroid]] of IMI cell id `cell` = j0·ksub + j1. */
  def cellCentroid(cell: Column, coarse: PqModel): Column =
    centroid(Seq((cell / coarse.ksub).cast("int"), pmod(cell, lit(coarse.ksub)).cast("int")),
      coarse)

  /** One coarse assignment per row over (…, vec): appends `cell` and
    * `_cent` (the concatenated half-centroid pair = the cell centroid
    * residuals subtract). ksub <= 256 runs ONE [[graft.core.PQEncode]]
    * — the 2-byte cell code yields both the cell id and, through
    * decode, the centroid (computing the per-subspace argmin twice
    * would double the coarse cost in the build hot path, r10 review).
    * ksub > 256 — where PqKernels.encode's byte-per-subspace code
    * would silently truncate any half index >= 256 mod 256 (the
    * IMI2x<b> grammar admits b up to the reference's flagship 12+) —
    * computes the two half argmins as INTS ([[graft.core.PQSubAssign]],
    * the ImiIndex.build shape) and attaches the centroid by projection
    * ([[centroid]]). */
  def assignCells(data: DataFrame, coarse: PqModel, ksub: Int): DataFrame =
    if (ksub <= 256) {
      val byteAt = (c: Column, i: Int) =>
        conv(hex(c.substr(i, 1)), 16, 10).cast("int")
      data.withColumn("_ccode",
          shim.col(graft.core.PQEncode(shim.expr(col("vec")), coarse.codebooks)))
        .withColumn("cell",
          byteAt(col("_ccode"), 1) * ksub + byteAt(col("_ccode"), 2))
        .withColumn("_cent", coarse.decodeCol(col("_ccode")))
        .drop("_ccode")
    } else {
      val dsub = coarse.dsub
      data
        .withColumn("_j0", shim.col(PQSubAssign(shim.expr(lit(0)),
          shim.expr(slice(col("vec"), 1, dsub)), coarse.codebooks)))
        .withColumn("_j1", shim.col(PQSubAssign(shim.expr(lit(1)),
          shim.expr(slice(col("vec"), dsub + 1, dsub)), coarse.codebooks)))
        .withColumn("cell", col("_j0") * ksub + col("_j1"))
        .withColumn("_cent", centroid(Seq(col("_j0"), col("_j1")), coarse))
        .drop("_j0", "_j1")
    }
}

/** `IMI2x<b>,PQ<m>` — IVFPQ whose coarse quantizer is the inverted
  * multi-index (the factory composition index_factory.cpp:834-878;
  * the SIFT1B flagship config `IMI2x12,PQ16` of benchs/README.md:107).
  * Cells are the K² cartesian product of the two half-space codebooks;
  * codes are a product quantizer over the RESIDUAL against the cell
  * centroid (= the concatenation of the two half-centroids), searched
  * by per-(query, probed-cell) ADC LUTs — exactly [[IvfPqIndex]] with
  * [[ImiIndex]]'s probe selection.
  *
  * Spark shape: probe selection is the in-process MinSumK selector of
  * [[ImiIndex.search]] (O(nprobe²) candidate cells, never the K²
  * ranking, which at the reference's IMI2x12 would be 16M cells per
  * query); residuals subtract the cell centroid attached by projection
  * ([[ImiProbes.centroid]]), so no K²-row centroid table ever
  * materializes; the codes scan is statically pruned to the probed
  * cells and aggregated by the bounded-heap top-k. Optional `ht`
  * (polysemous Hamming pre-filter on the residual codes,
  * IndexIVFPQ.h polysemous_ht) and `maxCodes` (per-query TOTAL scan
  * budget in probe-rank order, IndexIVF.h:67-72 / IndexIVF.cpp:586)
  * expose the SIFT1B operating-point knobs. */
class ImiPqIndex(
    val ksub: Int,
    /** m=2 half-space coarse codebooks. */
    val coarse: PqModel,
    /** residual product quantizer. */
    val model: PqModel,
    /** (id, cell, code) */
    val codes: DataFrame) {

  def nlist: Int = ksub * ksub

  /** Release the cached codes table (build() caches it — add-time
    * work); an index discarded without close() pins that storage
    * until session end (the x4fsr convention; the factory wires this
    * into Built.close()). */
  def close(): Unit = codes.unpersist(blocking = false)

  /** Shared probe head of search/rangeSearch/sweepCandidates (one
    * definition — a cell-decode or residual fix reaches all three, the
    * ImiProbes convention): the IMI probe step, then the per-(query,
    * cell) float32 residual against the cell centroid. Output
    * (queryId, cell, pr, _qres) and the probed cells. */
  private def residualProbes(queries: DataFrame, nprobe: Int,
      queryId: String, queryVec: String): (DataFrame, Array[Int]) = {
    val (probes, probed) = ImiProbes.local(queries, coarse, nprobe, queryId, queryVec,
      ranked = true)
    (probes.select(col(queryId), col("cell"), col("pr"),
      graft.functions.vec_sub(col(queryVec),
        ImiProbes.cellCentroid(col("cell"), coarse)).as("_qres")), probed)
  }

  /** Output (qid, rank, id, dist) — ADC distances over the probed
    * cells' residual codes. */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      ht: Option[Int] = None, maxCodes: Option[Int] = None): DataFrame = {
    val (probes, probed) = residualProbes(queries, nprobe, queryId, queryVec)
    var probesLut = probes.withColumn("_lut", model.lutCol(col("_qres")))
    probesLut = ht match {
      case Some(_) => probesLut.withColumn("_qcode",
        shim.col(graft.core.PQEncode(shim.expr(col("_qres")), model.codebooks)))
        .drop("_qres")
      case None => probesLut.drop("_qres")
    }
    // max_codes = per-query TOTAL scan budget consumed in probe-rank
    // order over the raw cell sizes (Probes.budget); the scan set stays
    // the probed cells, and the join drops the cut ones
    probesLut = maxCodes.fold(probesLut)(Probes.budget(probesLut,
      Probes.pruned(codes, Some(probed), "cell"), _, queryId, "cell")).drop("pr")
    var cand = Probes.scan(codes, probesLut, Some(probed), "cell")
    ht.foreach { t =>
      // polysemous pre-filter (IndexIVFPQ polysemous_ht): Hamming
      // between the query's PER-CELL residual code and the stored code
      cand = cand.filter(
        graft.functions.hamming_dist(col("code"), col("_qcode")) <= t)
    }
    TopKAgg.ranked(cand.select(col(queryId), col("cell"), col("id"),
      model.adcCol(col("code"), col("_lut")).as("_dist")),
      Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }

  /** Lossy reconstruction (reconstruct_from_offset under the IMI
    * coarse): cell centroid (the cell's two half-centroids, by
    * projection) + decoded residual — in-row, no join, no shuffle.
    * Output (id, vec). */
  def reconstruct: DataFrame =
    codes.select(col("id"),
      graft.functions.vec_add(ImiProbes.cellCentroid(col("cell"), coarse),
        model.decodeCol(col("code"))).as("vec"))

  /** ADC radius search over the probed cells (IndexIVF::range_search
    * semantics under the IMI coarse — the filter applies BELOW any
    * aggregation, the IvfPqIndex.rangeSearch convention). Output
    * (qid, id, dist) with approximate distance < radius. */
  def rangeSearch(queries: DataFrame, radius: Double, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val (probes, probed) = residualProbes(queries, nprobe, queryId, queryVec)
    val probesLut = probes.select(col(queryId), col("cell"),
      model.lutCol(col("_qres")).as("_lut"))
    Probes.scan(codes, probesLut, Some(probed), "cell")
      .select(col(queryId), col("id"),
        model.adcCol(col("code"), col("_lut")).as("dist"))
      .filter(col("dist") < radius)
  }

  /** Per-candidate sweep table for multi-parameter autotune over the
    * IMI coarse — the Deep1B operating-point shape
    * (`OPQ20_80,IMI2x14,PQ20` tuned on (nprobe, ht, max_codes)
    * triples, BASELINE.md / AutoTune.cpp:347-403). Same schema as
    * [[IvfPqIndex.sweepCandidates]] — (qid, list_no, pr, id, dist,
    * ham) with list_no = IMI cell — so [[graft.tune.AutoTune]]
    * consumes either coarse family through one code path. */
  def sweepCandidates(queries: DataFrame, npMax: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val (probes, probed) = residualProbes(queries, npMax, queryId, queryVec)
    val probesLut = probes.select(col(queryId), col("cell"), col("pr"),
      model.lutCol(col("_qres")).as("_lut"),
      shim.col(graft.core.PQEncode(shim.expr(col("_qres")),
        model.codebooks)).as("_qcode"))
    Probes.scan(codes, probesLut, Some(probed), "cell")
      .select(col(queryId), col("cell").as("list_no"), col("pr"), col("id"),
        model.adcCol(col("code"), col("_lut")).as("dist"),
        graft.functions.hamming_dist(col("code"), col("_qcode")).as("ham"))
  }
}

/** `IMI2x<b>,SQ<w>` — IVF scalar-quantized codes under the
  * multi-index coarse (the factory grammar composes IMI with any IVF
  * code, index_factory.cpp:834-878; SQ widths per
  * IndexScalarQuantizer.h:64). Cells via [[ImiIndex]]'s 2-subspace
  * assignment, searched with [[ImiProbes.local]] probe selection
  * and the asymmetric SQ ADC over the statically pruned cells.
  * `byResidual = true` (the IndexIVFScalarQuantizer ctor default,
  * IndexScalarQuantizer.h:74 — the form the factory builds) scales
  * the shared range over RESIDUALS against the cell centroid and
  * subtracts the probed centroid on the query side; false encodes the
  * raw vectors (the explicit non-residual variant the imi_sq_search
  * oracle replays). */
class ImiSqIndex(
    val ksub: Int,
    val coarse: PqModel,
    val vmin: Array[Double],
    val vdiff: Array[Double],
    val qtype: String,
    val byResidual: Boolean,
    /** (id, cell, code) */
    val codes: DataFrame) {

  def nlist: Int = ksub * ksub

  /** Release the cached codes table (see [[ImiPqIndex.close]]). */
  def close(): Unit = codes.unpersist(blocking = false)

  /** SQ ADC kNN over the nprobe best cells. Output (qid, rank, id,
    * dist). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val (probes0, probed) = ImiProbes.local(queries, coarse, nprobe, queryId, queryVec)
    // by residual: subtract the probed cell centroid before the ADC —
    // the residual buffer of IndexIVFScalarQuantizer::search
    val probes = if (!byResidual) probes0 else probes0.select(col(queryId), col("cell"),
      graft.functions.vec_sub(col(queryVec),
        ImiProbes.cellCentroid(col("cell"), coarse)).as(queryVec))
    val cand = Probes.scan(codes, probes, Some(probed), "cell")
      .select(col(queryId), col("id"),
        shim.col(SqVariant.adcL2(qtype, shim.expr(col(queryVec)),
          shim.expr(col("code")), vmin, vdiff)).as("_dist"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }
}

object ImiSqIndex {
  def build(df: DataFrame, idCol: String, vecCol: String, ksub: Int = 16,
      qtype: String = "SQ8", niterCoarse: Int = 6,
      byResidual: Boolean = false, seed: Long = 1234L): ImiSqIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = Pq.train(data, "vec", m = 2, ksub = ksub,
      niter = niterCoarse, seed = seed)
    // one coarse assignment per row (ImiProbes.assignCells: the
    // encode-once fast path for ksub <= 256, int-argmin beyond)
    val assigned = ImiProbes.assignCells(data, coarse, ksub)
      .select(col("id"), col("cell"),
        (if (byResidual) graft.functions.vec_sub(col("vec"), col("_cent"))
        else col("vec")).as("enc"))
    val cachedEnc = assigned.cache()
    try {
      val (mins, vdiff) =
        if (SqVariant.needsRange(qtype)) SqIndex.trainRange(cachedEnc, "enc")
        else (Array.empty[Double], Array.empty[Double])
      val codes = cachedEnc.select(col("id"), col("cell"),
        shim.col(SqVariant.encode(qtype, shim.expr(col("enc")),
          mins, vdiff)).as("code"))
      val mat = codes.cache()
      mat.count()
      new ImiSqIndex(ksub, coarse, mins, vdiff, qtype, byResidual, mat)
    } finally cachedEnc.unpersist()
  }
}

object ImiPqIndex {
  /** Train coarse (2-subspace PQ) + residual PQ, encode every row
    * (IndexIVFPQ::train/add_core with a MultiIndexQuantizer coarse). */
  def build(df: DataFrame, idCol: String, vecCol: String, ksub: Int = 16,
      m: Int = 8, pqKsub: Int = 16, niterCoarse: Int = 6, niterPq: Int = 5,
      seed: Long = 1234L): ImiPqIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = Pq.train(data, "vec", m = 2, ksub = ksub,
      niter = niterCoarse, seed = seed)
    // one coarse assignment per row (ImiProbes.assignCells); residual
    // = vec − concat(cb0[j0], cb1[j1]), float32 as the reference's
    val assigned = ImiProbes.assignCells(data, coarse, ksub)
      .select(col("id"), col("vec"), col("cell"),
        graft.functions.vec_sub(col("vec"), col("_cent")).as("res"))
      .cache()
    try {
      val model = Pq.train(assigned, "res", m, pqKsub, niterPq, seed)
      val codes = assigned.select(col("id"), col("cell"),
        shim.col(graft.core.PQEncode(shim.expr(col("res")),
          model.codebooks)).as("code"))
      val mat = codes.cache()
      mat.count()
      new ImiPqIndex(ksub, coarse, model, mat)
    } finally assigned.unpersist()
  }
}
