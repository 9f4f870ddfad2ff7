package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{PQSubAssign, TopKAgg}
import graft.functions.{topk, vec_dist}

/** IMI — inverted multi-index (MultiIndexQuantizer, faiss/IndexPQ.h:139-171,
  * used as the `IMI2x…` coarse quantizer of every SIFT1B/Deep1B
  * baseline): the coarse quantizer is a 2-subspace product quantizer,
  * so the cell table is the CARTESIAN product of two K-entry codebooks
  * — K² cells from 2K trained centroids. Cell distance decomposes as
  * d(q, cell(j1,j2)) = d(q_half1, cb1[j1]) + d(q_half2, cb2[j2]), so
  * probe selection ranks K² sums computed from two K-entry LUTs
  * (faiss's multi-sequence scan, IndexPQ.cpp MultiIndexQuantizer::search).
  *
  * Spark shape: training reuses the joint subspace Lloyd of
  * [[Pq.train]] (m=2); cell assignment is one [[PQEncode]] expression;
  * probe selection is LUT explode + the bounded-heap top-nprobe
  * aggregate; the scan is the same statically pruned cell join as
  * [[IvfIndex]] — at scale the K² cells partition the corpus finer
  * than plain IVF for the same training cost (256 cells from 32
  * centroids here).
  */
class ImiIndex(
    val ksub: Int,
    val model: PqModel,
    /** (id, vec, cell) */
    val invlists: DataFrame) {

  def nlist: Int = ksub * ksub

  /** Exact-distance search over the nprobe best cells.
    * Output (qid, rank, id, dist).
    *
    * Guard: above [[ImiIndex.MaxEnumCells]] cells the K² LUT-sum
    * enumeration below is unreachable — the call routes through the
    * MinSumK two-level ranking of [[search2]], which selects the SAME
    * top-nprobe cells (min-sum over per-half top-k2 is exhaustive for
    * any final rank <= k2, and k2 caps at ksub, making the combine
    * exhaustive whenever nprobe > ksub). At the reference's IMI2x12
    * the enumeration would explode 16.7M rows PER QUERY; the guard
    * makes that plan impossible to reach by accident at scale. */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      metric: String = "l2sq"): DataFrame = {
    if (nlist > ImiIndex.MaxEnumCells)
      return search2(queries, k, nprobe, queryId, queryVec, metric)
    val kl = lit(ksub)
    // per-query cell ranking from the two half-space LUTs
    val probes = queries
      .select(col(queryId), col(queryVec), model.lutCol(col(queryVec)).as("_lut"))
      .select(col(queryId), col(queryVec), col("_lut"),
        explode(sequence(lit(0), lit(nlist - 1))).as("_cell"))
      .select(col(queryId), col(queryVec), col("_cell"),
        (element_at(col("_lut"), (col("_cell") / kl).cast("int") + 1) +
          element_at(col("_lut"), kl + pmod(col("_cell"), kl).cast("int") + 1)).as("_cd"))
      .groupBy(col(queryId), col(queryVec))
      .agg(topk(col("_cd"), col("_cell").cast("long"), nprobe, asc = true).as("_tk"))
      .select(col(queryId), col(queryVec), explode(col("_tk")).as("_r"))
      .select(col(queryId), col(queryVec), col("_r.id").cast("int").as("cell"))
    scanCells(probes, k, queryId, queryVec, metric)
  }

  /** MultiIndexQuantizer2 search (faiss/IndexPQ.h:171 — "the PQ
    * assignment is performed by sub-indexes";
    * MultiIndexQuantizer2::search, IndexPQ.cpp:1042): instead of
    * ranking all K² cells from the two LUTs, each HALF-SPACE runs its
    * own top-k2 search through its assign sub-index (k2 =
    * min(nprobe, ksub), the reference's k2; the default sub-index is
    * an exact flat scan of the K half-centroids, which the LUT is),
    * and the cell ranking is the min-sum combine of the two k2-lists
    * (the reference's MinSumK) — k2·k2 candidate sums instead of K².
    * Same top-nprobe cells as [[search]] (min-sum over per-half top-k2
    * is exhaustive for any final rank <= k2), then the identical
    * pruned cell scan. */
  def search2(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      metric: String = "l2sq"): DataFrame = {
    // both levels live in the shared [[ImiProbes.minSumK]] (one
    // implementation for search2, ImiPqIndex and ImiSqIndex — a probe
    // tie-break fix reaches all of them); the probe rank is unused here
    val probes = ImiProbes.minSumK(queries, model, ksub, nprobe,
      queryId, queryVec).drop("pr")
    scanCells(probes, k, queryId, queryVec, metric)
  }

  /** Shared pruned cell scan: [[Probes.scan]] over the probed cells +
    * exact distance + the ranked top-k. */
  private def scanCells(probes: DataFrame, k: Int,
      queryId: String, queryVec: String, metric: String): DataFrame =
    TopKAgg.ranked(
      Probes.scan(invlists, probes, Some(Probes.probedListIds(probes, "cell")), "cell")
        .select(col(queryId), col("id"),
          vec_dist(col(queryVec), col("vec"), metric).as("_d")),
      Seq(col(queryId)), col("_d"), col("id"), k, asc = true)
}

object ImiIndex {
  /** Cell-count ceiling for [[ImiIndex.search]]'s direct K²
    * enumeration; beyond it the MinSumK route is forced (same
    * results, O(nprobe²) candidate cells instead of K²). */
  val MaxEnumCells = 4096

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

/** `IMI2x<b>,PQ<m>` — IVFPQ whose coarse quantizer is the inverted
  * multi-index (the factory composition index_factory.cpp:834-878;
  * the SIFT1B flagship config `IMI2x12,PQ16` of benchs/README.md:107).
  * Cells are the K² cartesian product of the two half-space codebooks;
  * codes are a product quantizer over the RESIDUAL against the cell
  * centroid (= the concatenation of the two half-centroids), searched
  * by per-(query, probed-cell) ADC LUTs — exactly [[IvfPqIndex]] with
  * [[ImiIndex]]'s probe selection.
  *
  * Spark shape: probe selection is the MinSumK two-level ranking of
  * [[ImiIndex.search2]] (per-half top-nprobe through the half LUT,
  * then the min-sum combine — O(nprobe²) candidate cells, never the
  * K² enumeration, which at the reference's IMI2x12 would be 16M cells
  * per query); residuals come from TWO K-row broadcast joins against
  * the half-centroid tables, so no K²-row centroid table ever
  * materializes; the codes scan is statically pruned to the probed
  * cells and aggregated by the bounded-heap top-k. Optional `ht`
  * (polysemous Hamming pre-filter on the residual codes,
  * IndexIVFPQ.h polysemous_ht) and `maxCodes` (per-query TOTAL scan
  * budget in probe-rank order, IndexIVF.h:67-72 / IndexIVF.cpp:586)
  * expose the SIFT1B operating-point knobs. */
/** Shared IMI probe selection: the MinSumK two-level cell ranking
  * (MultiIndexQuantizer2::search, IndexPQ.cpp:1042) — per-half top-k2
  * through the half LUTs (k2 = min(nprobe, ksub)), min-sum combine,
  * top-nprobe cells by (cell distance, cell). O(nprobe²) candidate
  * cells, never the K² enumeration (at the reference's IMI2x12 that
  * would be 16M cells per query). */
private[index] object ImiProbes {

  /** The probed cells of `probes`, enumerated by a Spark distinct, for a
    * small query set (`broadcastQueries`); None leaves the prune to the
    * shuffle equi-join on cell ([[Probes.scan]]). */
  def probedCells(probes: DataFrame, broadcastQueries: Boolean): Option[Array[Int]] =
    Option.when(broadcastQueries)(Probes.probedListIds(probes, "cell"))

  /** (_j<m>, _c<m>) broadcast table of half-space m's centroids — the
    * shared residual/decode side of every IMI family member (one
    * definition so a cast or ordering fix reaches all of them). */
  def halfDf(spark: SparkSession, coarse: PqModel, m: Int): DataFrame = {
    import spark.implicits._
    coarse.codebooks(m).zipWithIndex.toSeq
      .map { case (c, j) => (j, c.toSeq) }.toDF(s"_j$m", s"_c$m")
      .select(col(s"_j$m"), col(s"_c$m").cast("array<float>").as(s"_c$m"))
  }

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
    * the ImiIndex.build shape) and decodes the centroid through two
    * K-row broadcast joins. */
  def assignCells(data: DataFrame, coarse: PqModel, ksub: Int): DataFrame =
    if (ksub <= 256) {
      val byteAt = (c: org.apache.spark.sql.Column, i: Int) =>
        conv(hex(c.substr(i, 1)), 16, 10).cast("int")
      data.withColumn("_ccode",
          shim.col(graft.core.PQEncode(shim.expr(col("vec")), coarse.codebooks)))
        .withColumn("cell",
          byteAt(col("_ccode"), 1) * ksub + byteAt(col("_ccode"), 2))
        .withColumn("_cent", coarse.decodeCol(col("_ccode")))
        .drop("_ccode")
    } else {
      val spark = data.sparkSession
      val dsub = coarse.dsub
      data
        .withColumn("_j0", shim.col(PQSubAssign(shim.expr(lit(0)),
          shim.expr(slice(col("vec"), 1, dsub)), coarse.codebooks)))
        .withColumn("_j1", shim.col(PQSubAssign(shim.expr(lit(1)),
          shim.expr(slice(col("vec"), dsub + 1, dsub)), coarse.codebooks)))
        .withColumn("cell", col("_j0") * ksub + col("_j1"))
        .join(broadcast(halfDf(spark, coarse, 0)), "_j0")
        .join(broadcast(halfDf(spark, coarse, 1)), "_j1")
        .withColumn("_cent", concat(col("_c0"), col("_c1")))
        .drop("_j0", "_j1", "_c0", "_c1")
    }

  /** Output (queryId, queryVec, cell). */
  def minSumK(queries: DataFrame, coarse: PqModel, ksub: Int, nprobe: Int,
      queryId: String, queryVec: String): DataFrame = {
    val kl = lit(ksub)
    val k2 = math.min(math.max(nprobe, 1), ksub)
    val halfTop = queries
      .select(col(queryId), col(queryVec), coarse.lutCol(col(queryVec)).as("_lut"))
      .select(col(queryId), col(queryVec), explode(sequence(lit(0), lit(1))).as("_m"),
        col("_lut"))
      .select(col(queryId), col(queryVec), col("_m"),
        posexplode(slice(col("_lut"), col("_m") * kl + 1, kl)).as(Seq("_j", "_hd")))
      .groupBy(col(queryId), col("_m"))
      .agg(first(col(queryVec)).as(queryVec),
        topk(col("_hd"), col("_j").cast("long"), k2, asc = true).as("_tk"))
      .select(col(queryId), col(queryVec), col("_m"), explode(col("_tk")).as("_r"))
      .select(col(queryId), col(queryVec), col("_m"),
        col("_r.id").cast("int").as("_j"), col("_r.dist").as("_hd"))
    val h0 = halfTop.filter(col("_m") === 0)
      .select(col(queryId), col(queryVec), col("_j").as("_j0"), col("_hd").as("_d0"))
    val h1 = halfTop.filter(col("_m") === 1)
      .select(col(queryId), col("_j").as("_j1"), col("_hd").as("_d1"))
    h0.join(h1, Seq(queryId))
      .select(col(queryId), col(queryVec),
        (col("_j0") * kl + col("_j1")).as("_cell"),
        (col("_d0") + col("_d1")).as("_cd"))
      .groupBy(col(queryId))
      .agg(first(col(queryVec)).as(queryVec),
        topk(col("_cd"), col("_cell").cast("long"), nprobe, asc = true).as("_tk"))
      // 0-based probe rank (best cell first): lets an autotune sweep
      // reconstruct the nprobe=j candidate set as `pr < j`, the
      // IvfIndex.probes convention
      .select(col(queryId), col(queryVec), posexplode(col("_tk")).as(Seq("pr", "_r")))
      .select(col(queryId), col(queryVec), col("pr"),
        col("_r.id").cast("int").as("cell"))
  }
}

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

  private def halfDf(m: Int) = ImiProbes.halfDf(codes.sparkSession, coarse, m)

  /** Shared probe head of search/rangeSearch/sweepCandidates (one
    * definition — a cell-decode or residual fix reaches all three, the
    * ImiProbes convention): MinSumK cell selection, then the
    * per-(query, cell) float32 residual against the concat of the two
    * half-centroids — two K-row broadcast joins, never a K²-row table.
    * Output (queryId, cell, pr, _qres). */
  private def residualProbes(queries: DataFrame, nprobe: Int,
      queryId: String, queryVec: String): DataFrame = {
    val kl = lit(ksub)
    ImiProbes.minSumK(queries, coarse, ksub, nprobe, queryId, queryVec)
      .withColumn("_j0", (col("cell") / kl).cast("int"))
      .withColumn("_j1", pmod(col("cell"), kl).cast("int"))
      .join(broadcast(halfDf(0)), "_j0")
      .join(broadcast(halfDf(1)), "_j1")
      .select(col(queryId), col("cell"), col("pr"),
        graft.functions.vec_sub(col(queryVec),
          concat(col("_c0"), col("_c1"))).as("_qres"))
  }

  /** Output (qid, rank, id, dist) — ADC distances over the probed
    * cells' residual codes.
    * @param broadcastQueries true (default) broadcasts the LUT-bearing
    *        probe table (small query sets); false leaves it to a
    *        shuffle equi-join on cell — the right plan when the query
    *        set itself is huge (the IvfIndex.search convention: the
    *        probe rows carry nq·nprobe LUTs of 16·M doubles, which
    *        must not ship as one broadcast at full-corpus nq). Static
    *        cell pruning applies either way. */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      ht: Option[Int] = None, maxCodes: Option[Int] = None,
      broadcastQueries: Boolean = true): DataFrame = {
    var probesLut = residualProbes(queries, nprobe, queryId, queryVec)
      .withColumn("_lut", model.lutCol(col("_qres")))
    probesLut = ht match {
      case Some(_) => probesLut.withColumn("_qcode",
        shim.col(graft.core.PQEncode(shim.expr(col("_qres")), model.codebooks)))
        .drop("_qres")
      case None => probesLut.drop("_qres")
    }
    // static cell pruning FOR SMALL QUERY SETS ONLY: distinct cell
    // ints cross the driver (ImiProbes.probedCells) and the codes scan
    // reads just the probed cells. With broadcastQueries=false
    // (corpus-sized query sets) the probed union approaches every cell
    // and the collect would be an eager full probe-selection job
    // inside a plan builder — the shuffle equi-join on cell IS the
    // prune there (the IvfIndex.search contract).
    val probed0 = ImiProbes.probedCells(probesLut, broadcastQueries)
    // max_codes = per-query TOTAL scan budget consumed in probe-rank
    // order over the raw cell sizes (Probes.budget)
    maxCodes.foreach { mc =>
      probesLut = Probes.budget(probesLut, Probes.pruned(codes, probed0, "cell"), mc,
        queryId, "cell")
    }
    probesLut = probesLut.drop("pr")
    var cand = Probes.scan(codes, probesLut,
      if (maxCodes.isDefined) ImiProbes.probedCells(probesLut, broadcastQueries) else probed0,
      "cell")
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
    * coarse): cell centroid (decoded from the cell's two half codes)
    * + decoded residual — two K-row broadcast joins + in-row decode,
    * no shuffle. Output (id, vec). */
  def reconstruct: DataFrame = {
    val kl = lit(ksub)
    codes
      .withColumn("_j0", (col("cell") / kl).cast("int"))
      .withColumn("_j1", pmod(col("cell"), kl).cast("int"))
      .join(broadcast(halfDf(0)), "_j0")
      .join(broadcast(halfDf(1)), "_j1")
      .select(col("id"),
        graft.functions.vec_add(concat(col("_c0"), col("_c1")),
          model.decodeCol(col("code"))).as("vec"))
  }

  /** ADC radius search over the probed cells (IndexIVF::range_search
    * semantics under the IMI coarse — the filter applies BELOW any
    * aggregation, the IvfPqIndex.rangeSearch convention). Output
    * (qid, id, dist) with approximate distance < radius.
    * `broadcastQueries` as on [[search]]. */
  def rangeSearch(queries: DataFrame, radius: Double, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      broadcastQueries: Boolean = true): DataFrame = {
    val probesLut = residualProbes(queries, nprobe, queryId, queryVec)
      .select(col(queryId), col("cell"), model.lutCol(col("_qres")).as("_lut"))
    // static cell prune only for small query sets (see [[search]])
    Probes.scan(codes, probesLut,
        ImiProbes.probedCells(probesLut, broadcastQueries), "cell")
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
    val probesLut = residualProbes(queries, npMax, queryId, queryVec)
      .select(col(queryId), col("cell"), col("pr"),
        model.lutCol(col("_qres")).as("_lut"),
        shim.col(graft.core.PQEncode(shim.expr(col("_qres")),
          model.codebooks)).as("_qcode"))
    Probes.scan(codes, probesLut, Some(Probes.probedListIds(probesLut, "cell")), "cell")
      .select(col(queryId), col("cell").as("list_no"), col("pr"), col("id"),
        model.adcCol(col("code"), col("_lut")).as("dist"),
        graft.functions.hamming_dist(col("code"), col("_qcode")).as("ham"))
  }
}

/** `IMI2x<b>,SQ<w>` — IVF scalar-quantized codes under the
  * multi-index coarse (the factory grammar composes IMI with any IVF
  * code, index_factory.cpp:834-878; SQ widths per
  * IndexScalarQuantizer.h:64). Cells via [[ImiIndex]]'s 2-subspace
  * assignment, searched with [[ImiProbes.minSumK]] probe selection
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

  private def halfDf(m: Int) = ImiProbes.halfDf(codes.sparkSession, coarse, m)

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      broadcastQueries: Boolean = true): DataFrame = {
    val kl = lit(ksub)
    var probes = ImiProbes.minSumK(queries, coarse, ksub, nprobe,
      queryId, queryVec).drop("pr")
    if (byResidual) {
      // subtract the probed cell centroid before the ADC — the
      // residual buffer of IndexIVFScalarQuantizer::search
      probes = probes
        .withColumn("_j0", (col("cell") / kl).cast("int"))
        .withColumn("_j1", pmod(col("cell"), kl).cast("int"))
        .join(broadcast(halfDf(0)), "_j0")
        .join(broadcast(halfDf(1)), "_j1")
        .select(col(queryId), col("cell"),
          graft.functions.vec_sub(col(queryVec),
            concat(col("_c0"), col("_c1"))).as(queryVec))
    }
    // broadcastQueries=false: shuffle equi-join for huge query sets,
    // no driver enumeration of the probed cells (the ImiPqIndex.search
    // convention — the join is the prune)
    val cand = Probes.scan(codes, probes,
        ImiProbes.probedCells(probes, broadcastQueries), "cell")
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
