package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core._
import graft.functions.{hamming_dist, topk, vec_sub}

/** Product-quantizer model [M][ksub][dsub] (faiss ProductQuantizer,
  * impl/ProductQuantizer.cpp). */
case class PqModel(m: Int, ksub: Int, dsub: Int,
    codebooks: Array[Array[Array[Float]]]) {

  def encode(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      shim.col(PQEncode(shim.expr(col(vecCol)), codebooks)).as("code"))

  def decodeCol(codeCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shim.col(PQDecode(shim.expr(codeCol), codebooks))

  def lutCol(vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shim.col(PQLut(shim.expr(vecCol), codebooks))

  def adcCol(codeCol: org.apache.spark.sql.Column,
      lutCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shim.col(PQAdcFromLut(shim.expr(codeCol), shim.expr(lutCol), ksub))
}

object Pq {

  /** Train M independent subspace codebooks (faiss
    * ProductQuantizer::train, impl/ProductQuantizer.cpp; each subspace
    * is a ksub-means over dsub dims) on at most 256 × ksub rows — the
    * reference's k-means max_points_per_centroid convention
    * (Clustering.h:36), never the full add set.
    *
    * The sample is the first 256 × ksub rows in xxhash64(vec, seed)
    * order (one TakeOrdered pass instead of niter full scans; the
    * deterministic order keeps every memoized model reproducible, and
    * the ENCODE of the full set, the add-time work, is untouched).
    * Init: codebook[mi] = the mi-th subvectors of the first ksub sample
    * rows. The rounds run through [[graft.core.Lloyd]], the M subspaces
    * as its groups: in-process for every ksub ≤ 256 (all 8-bit and
    * 4-bit PQ), on Spark over the posexploded subspace slices of the
    * cached sample for a larger ksub (an IMI2x12 coarse). An empty
    * codeword keeps its previous value.
    *
    * Fewer than ksub training rows is an error, as in faiss's
    * Clustering::train: a codebook shorter than ksub would break the
    * ADC lookup-table stride. Oracles read trained codebooks from
    * sidecars, so the training set is free to shrink. */
  def train(df: DataFrame, vecCol: String, m: Int, ksub: Int,
      niter: Int = 8, seed: Long = 1234L): PqModel =
    trainWith(df, vecCol, m, ksub, niter, seed, Lloyd.inProcess)

  /** [[train]] with the rule that picks in-process rounds for a sample
    * of the given row count (tests pin either path). */
  private[graft] def trainWith(df: DataFrame, vecCol: String, m: Int,
      ksub: Int, niter: Int, seed: Long, inProcess: Long => Boolean): PqModel = {
    val maxTrain = 256 * ksub
    val ordered = df.select(col(vecCol).as("vec")).filter(col("vec").isNotNull)
      .withColumn("_h", xxhash64(col("vec"), lit(seed)))
      .orderBy(col("_h")).limit(maxTrain).select("vec")
    def checked(sample: Array[Array[Float]]): Int = {
      require(sample.length >= ksub,
        s"PQ training needs at least ksub = $ksub rows; got ${sample.length}")
      val d = sample.head.length
      require(d % m == 0, s"d=$d not divisible by M=$m")
      d / m
    }
    def init(sample: Array[Array[Float]], dsub: Int) =
      Array.tabulate(m)(mi => Lloyd.flatten(sample.take(ksub), mi * dsub, dsub))
    val (dsub, cbs) = if (inProcess(maxTrain)) {
      val xs = shim.collectRows(ordered).map(_.getArray(0).toFloatArray())
      val dsub = checked(xs)
      (dsub, init(xs, dsub).zipWithIndex.map { case (cb0, mi) =>
        Lloyd.train(xs, mi * dsub, dsub, cb0, niter) })
    } else {
      val train = new Lloyd.Distributed(ordered, maxTrain)
      try {
        val sample = Lloyd.firstInHashOrder(
          train.cached.select(lit(0).as("_g"), col("vec").as("_v")), Array(ksub), seed)(0)
        val dsub = checked(sample)
        val subs = train.cached.select(posexplode(transform(sequence(lit(0), lit(m - 1)),
          mi => slice(col("vec"), mi * dsub + 1, lit(dsub)))).as(Seq("_g", "_v")))
        (dsub, train.train(subs, init(sample, dsub), dsub, niter))
      } finally train.close()
    }
    PqModel(m, ksub, dsub, cbs.map(Lloyd.unflatten(_, dsub)))
  }
}

/** Polysemous code-permutation training — the greedy slice of
  * faiss/impl/PolysemousTraining.cpp (IndexPQ.h:100-121: make codes
  * usable BOTH as ADC indices and as Hamming-comparable bit strings).
  * Same objective as the reference's ReproduceWithHammingObjective
  * (PolysemousTraining.cpp:180-300): per subquantizer, find a
  * permutation perm(centroid) -> code minimizing
  *   sum_ij w_ij * (target_ij - hamming(perm_i, perm_j))^2
  * where target is the inter-centroid squared-L2 table affine-mapped
  * to Hamming scale (td = (d - mean)/std * sqrt(nbits/4) + nbits/2,
  * PolysemousTraining.cpp:289-296) and w = exp(-dis_weight_factor*td)
  * emphasizes small distances. The reference optimizes by simulated
  * annealing; this slice hill-climbs pair swaps to a local optimum —
  * deterministic, and enough to make the Hamming pre-filter prune
  * more at equal recall (PqSpec asserts this; the annealed optimum
  * reaches ~3.4x at ht=50, BASELINE.md). */
object Polysemous {

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Permute each subquantizer's codebook (order changes, centroid set
    * does not): ADC results are identical, code bit patterns become
    * distance-correlated. */
  def optimize(model: PqModel, disWeightFactor: Double = math.log(2),
      maxSweeps: Int = 200): PqModel = {
    val newCbs = model.codebooks.map { cb =>
      val n = cb.length
      val nbits = 31 - Integer.numberOfLeadingZeros(n)
      require((1 << nbits) == n, s"ksub=$n must be a power of two")
      // affine-mapped target distances + weights (centroid-indexed)
      val td = Array.ofDim[Double](n, n)
      val w = Array.ofDim[Double](n, n)
      var sum = 0.0; var sum2 = 0.0
      for (i <- 0 until n; j <- 0 until n) {
        val d = l2(cb(i), cb(j)); td(i)(j) = d; sum += d; sum2 += d * d
      }
      val mean = sum / (n * n)
      val std = math.sqrt(math.max(1e-30, sum2 / (n * n) - mean * mean))
      for (i <- 0 until n; j <- 0 until n) {
        val t = (td(i)(j) - mean) / std * math.sqrt(nbits / 4.0) + nbits / 2.0
        td(i)(j) = t
        w(i)(j) = math.exp(-disWeightFactor * t)
      }
      def ham(a: Int, b: Int): Int = Integer.bitCount(a ^ b)
      val perm = Array.tabulate(n)(identity)
      def pairCost(i: Int, j: Int): Double = {
        val e = td(i)(j) - ham(perm(i), perm(j))
        w(i)(j) * e * e
      }
      // hill-climb: accept any swap that lowers the total cost. A
      // swap of (u, v) only changes terms involving u or v, so a
      // sweep is O(n³) pair-delta work — fine at the default ksub=16,
      // minutes of driver CPU at 256. Scale the sweep budget to hold
      // total work at the default's order (exact behavior preserved
      // for ksub <= 16, where the cap equals maxSweeps).
      val sweepCap = math.max(1,
        (maxSweeps.toLong * 16 * 16 * 16 / (n.toLong * n * n)).toInt)
      var improved = true
      var sweeps = 0
      while (improved && sweeps < sweepCap) {
        improved = false
        for (u <- 0 until n; v <- u + 1 until n) {
          var before = 0.0
          var i = 0
          while (i < n) {
            if (i != u && i != v) before += pairCost(u, i) + pairCost(i, u) +
              pairCost(v, i) + pairCost(i, v)
            i += 1
          }
          before += pairCost(u, v) + pairCost(v, u)
          val tu = perm(u); perm(u) = perm(v); perm(v) = tu
          var after = 0.0
          i = 0
          while (i < n) {
            if (i != u && i != v) after += pairCost(u, i) + pairCost(i, u) +
              pairCost(v, i) + pairCost(i, v)
            i += 1
          }
          after += pairCost(u, v) + pairCost(v, u)
          if (after >= before - 1e-12) { val t = perm(u); perm(u) = perm(v); perm(v) = t }
          else improved = true
        }
        sweeps += 1
      }
      val out = new Array[Array[Float]](n)
      for (c <- 0 until n) out(perm(c)) = cb(c)
      out
    }
    model.copy(codebooks = newCbs)
  }
}

/** Flat PQ index (IndexPQ, faiss/IndexPQ.h:24): codes + ADC search via
  * per-query lookup tables. Optional polysemous-style Hamming
  * pre-filter on the codes (faiss/IndexPQ.h:116-121 search_type
  * ST_polysemous: cheap bitwise filter before the expensive ADC). */
class PqIndex(val model: PqModel, val codes: DataFrame) {

  def search(queries: DataFrame, k: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      polysemousHt: Option[Int] = None): DataFrame = {
    val q = queries.select(col(queryId), col(queryVec),
      model.lutCol(col(queryVec)).as("_lut"),
      shim.col(PQEncode(shim.expr(col(queryVec)), model.codebooks)).as("_qcode"))
    var cand = codes.crossJoin(broadcast(q))
    polysemousHt.foreach { ht =>
      cand = cand.filter(hamming_dist(col("code"), col("_qcode")) <= ht)
    }
    TopKAgg.ranked(cand.select(col(queryId), col("id"),
      model.adcCol(col("code"), col("_lut")).as("_dist")),
      Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }

  /** Lossy reconstruction (sa_decode). */
  def reconstruct: DataFrame =
    codes.select(col("id"), model.decodeCol(col("code")).as("vec"))
}

object PqIndex {
  /** `polysemous = true` runs [[Polysemous.optimize]] after training so
    * the Hamming pre-filter (search(polysemousHt)) prunes harder. */
  def build(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      ksub: Int = 16, niter: Int = 8, seed: Long = 1234L,
      polysemous: Boolean = false): PqIndex = {
    val trained = Pq.train(df, vecCol, m, ksub, niter, seed)
    val model = if (polysemous) Polysemous.optimize(trained) else trained
    new PqIndex(model, model.encode(df, idCol, vecCol))
  }
}

/** IVFPQ (faiss/IndexIVFPQ.h:34): coarse quantizer + PQ on RESIDUALS
  * (by_residual), searched with per-(query, probed-list) LUTs over the
  * residual q - centroid. Composes the shared IVF scan
  * ([[Probes.scan]], [[TopKAgg.ranked]]) with PQ's ADC scan. */
class IvfPqIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model: PqModel,
    /** (id, list_no, code) */
    val codes: DataFrame) {

  /** Per-instance id for the executor-side graph coarse-quantizer
    * cache (the IvfIndex convention). */
  private val graphCacheKey = java.util.UUID.randomUUID().toString

  /** `polysemousHt` = the reference's IndexIVFPQ::polysemous_ht
    * (IndexIVFPQ.h:41): a Hamming pre-filter between the stored code
    * and the query's PER-LIST residual code, applied before the ADC
    * distance leaves the scan. `coarse = Some(HnswCoarse/NsgCoarse)` walks a
    * per-executor graph over the centroids instead of the exact
    * argmin (the `IVF<n>_{HNSW,NSG}<m>,PQ<m>` factory compositions —
    * index_factory.cpp:253-262 parses the coarse independently of the
    * code; budget >= nlist degenerates to exact). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      polysemousHt: Option[Int] = None,
      coarse: Option[Probes.CoarseQuant] = None): DataFrame =
    TopKAgg.ranked(adcCandidates(queries, nprobe, queryId, queryVec,
      polysemousHt, coarse), Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)

  /** Shared ADC scan head of [[search]] / [[rangeSearch]]: the
    * per-(query, probed-list) residual LUT rows over [[Probes.scan]]. */
  private def adcCandidates(queries: DataFrame, nprobe: Int,
      queryId: String, queryVec: String,
      polysemousHt: Option[Int] = None,
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    var probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .withColumn("_qres", vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids)))
      .select(col(queryId), col("list_no"), col("_qres"),
        model.lutCol(col("_qres")).as("_lut"))
    probesPlan = polysemousHt match {
      case Some(_) => probesPlan.withColumn("_qcode",
        shim.col(PQEncode(shim.expr(col("_qres")), model.codebooks))).drop("_qres")
      case None => probesPlan.drop("_qres")
    }
    var cand = Probes.scan(codes, probesPlan, Some(probed))
    polysemousHt.foreach { ht =>
      cand = cand.filter(hamming_dist(col("code"), col("_qcode")) <= ht)
    }
    cand.select(col(queryId), col("id"),
      model.adcCol(col("code"), col("_lut")).as("_dist"))
  }

  /** Per-candidate sweep table for multi-parameter autotune
    * (faiss ParameterSpace, AutoTune.cpp:347-403): every ADC candidate
    * of the npMax probe budget, carrying the coordinates each tuning
    * axis filters on — probe rank `pr` (nprobe axis), polysemous
    * Hamming distance `ham` between the stored code and the query's
    * PER-LIST residual code (ht axis, IndexIVFPQ polysemous_ht), and
    * the ADC distance `dist` (max_codes ranks within (query, list) on
    * it). ONE pruned scan serves every (nprobe, ht, max_codes) grid
    * point; re-searching per point would rescan identical lists
    * |grid| times (the searchSweep argument, IvfIndex.scala:178). */
  def sweepCandidates(queries: DataFrame, npMax: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      math.min(npMax, nlist), "l2sq", coarse, graphCacheKey)
    val probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)), ranked = true)
      .withColumn("_qres", vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids)))
      .select(col(queryId), col("list_no"), col("pr"),
        model.lutCol(col("_qres")).as("_lut"),
        shim.col(PQEncode(shim.expr(col("_qres")), model.codebooks)).as("_qcode"))
    Probes.scan(codes, probesPlan, Some(probed))
      .select(col(queryId), col("list_no"), col("pr"), col("id"),
        model.adcCol(col("code"), col("_lut")).as("dist"),
        hamming_dist(col("code"), col("_qcode")).as("ham"))
  }

  /** Multi-walk-budget sweep for the (nprobe × quantizer_efSearch)
    * autotune grid: the union of per-ef HNSW-walk probe rankings
    * (labeled by `ef`) drives ONE statically-pruned codes scan — plan
    * construction pays a single probed-list collect instead of one
    * per budget (the per-ef [[sweepCandidates]] loop this replaces was
    * the gate-ratio driver of autotune_pareto_hnsw_coarse, VERDICT
    * r12). Output adds an `ef` column to the [[sweepCandidates]]
    * shape. */
  def sweepCandidatesEf(queries: DataFrame, npMax: Int, efs: Seq[Int],
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    // one driver collect for every budget: each (ef, query) row takes
    // the walk of its own ef
    val side = efs.map(ef => queries.select(lit(ef).as("ef"), col(queryId), col(queryVec)))
      .reduce(_ unionByName _)
    def walk(ef: Int) = Probes.selExpr(col(queryVec), centroids,
      math.min(npMax, nlist), "l2sq", Some(Probes.HnswCoarse(ef)), graphCacheKey)
    val sel = efs.tail.foldLeft(when(col("ef") === efs.head, walk(efs.head))) {
      (w, ef) => w.when(col("ef") === ef, walk(ef)) }
    val (q, probed) = Probes.local(side, queryVec, sel, centroids.head.length)
    val probesPlan = Probes.rows(q, Seq(col("ef"), col(queryId), col(queryVec)),
        ranked = true)
      .withColumn("_qres", vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids)))
      .select(col("ef"), col(queryId), col("list_no"), col("pr"),
        model.lutCol(col("_qres")).as("_lut"))
    Probes.scan(codes, probesPlan, Some(probed))
      .select(col("ef"), col(queryId), col("list_no"), col("pr"), col("id"),
        model.adcCol(col("code"), col("_lut")).as("dist"))
  }

  /** Lossy reconstruction (IndexIVFPQ::reconstruct_from_offset,
    * faiss/IndexIVFPQ.cpp — centroid + decoded residual): one
    * broadcast centroid join + an in-row decode, no shuffle. Output
    * (id, vec). */
  def reconstruct: DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val centDf = Probes.centroidsDf(spark, centroids)
    codes.join(broadcast(centDf), "list_no")
      .select(col("id"),
        graft.functions.vec_add(col("centroid"),
          model.decodeCol(col("code"))).as("vec"))
  }

  /** Radius search over the probed lists by ADC distance
    * (IndexIVFPQ::range_search, faiss/IndexIVFPQ.cpp — the scanner's
    * range path over the same per-(query, probed-list) residual LUTs
    * as [[search]]). Returns every (qid, id, dist) with approximate
    * distance < radius; the filter applies BELOW any aggregation, so
    * only in-radius rows leave the scan. */
  def rangeSearch(queries: DataFrame, radius: Double, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame =
    adcCandidates(queries, nprobe, queryId, queryVec, coarse = coarse)
      .filter(col("_dist") < radius)
      .select(col(queryId), col("id"), col("_dist").as("dist"))
}

/** True IVFPQR (faiss/IndexIVFPQR.h:19): a SECOND product quantizer
  * trained on the first stage's quantization error
  * (r2 = residual − decode(code1)); search re-ranks the k·k_factor ADC
  * candidates with the two-codebook reconstruction — no raw vectors
  * are ever stored, unlike the exact-re-rank variant in
  * [[Refine.ivfPqRefineSearch]]. */
class IvfPqrIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model1: PqModel,
    val model2: PqModel,
    /** (id, list_no, code, code2) */
    val codes: DataFrame,
    val kFactor: Int = 4) {

  /** Release the cached codes table (the x4fsr convention). */
  def close(): Unit = codes.unpersist(blocking = false)

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", None, "")
    val probes = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .select(col(queryId), col("list_no"),
        vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids)).as("_qres"))
      .withColumn("_lut", model1.lutCol(col("_qres")))
    // stage 1: ADC over code1, keep k*kFactor candidates per query
    val stage1 = Probes.scan(codes,
        probes.select(col(queryId), col("list_no"), col("_lut")), Some(probed))
      .select(col(queryId), col("id"), model1.adcCol(col("code"), col("_lut")).as("_d1"))
      .groupBy(col(queryId))
      .agg(topk(col("_d1"), col("id"), k * kFactor, asc = true).as("_tk"))
      .select(col(queryId), explode(col("_tk")).as("_r"))
      .select(col(queryId), col("_r.id").as("id"))
    // stage 2: re-rank with the two-codebook reconstruction
    val rescored = stage1
      .join(Probes.pruned(codes, Some(probed))
        .select(col("id"), col("list_no"), col("code"), col("code2")), "id")
      .join(broadcast(probes.select(col(queryId), col("list_no"), col("_qres"))),
        Seq(queryId, "list_no"))
      .select(col(queryId), col("id"),
        graft.functions.l2sq(col("_qres"),
          graft.functions.vec_add(model1.decodeCol(col("code")),
            model2.decodeCol(col("code2")))).as("_d2"))
    TopKAgg.ranked(rescored, Seq(col(queryId)), col("_d2"), col("id"), k, asc = true)
  }
}

object IvfPqrIndex {
  /** `m2` = the refinement stage's own subquantizer count (the
    * reference's `PQ<M1>+<M2>` factory form, index_factory.cpp:321);
    * <= 0 falls back to `m`. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16,
      niterCoarse: Int = 6, niterPq: Int = 5, kFactor: Int = 4,
      seed: Long = 1234L, m2: Int = -1): IvfPqrIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = graft.cluster.KMeans.fit(data, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse, seed = seed))
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = Probes.centroidsDf(spark, coarse.centroids)
    val assigned = coarse.assign(data, "vec")
      .join(broadcast(centDf), "list_no")
      .select(col("id"), col("list_no"), vec_sub(col("vec"), col("centroid")).as("res"))
      .cache()
    try {
      val model1 = Pq.train(assigned, "res", m, ksub, niterPq, seed)
      // second-stage train set: the first stage's quantization error
      val withErr = assigned.withColumn("res2",
        vec_sub(col("res"), model1.decodeCol(
          shim.col(PQEncode(shim.expr(col("res")), model1.codebooks)))))
        .cache()
      try {
        val model2 = Pq.train(withErr, "res2", if (m2 > 0) m2 else m,
          ksub, niterPq, seed + 1)
        val codes = withErr.select(col("id"), col("list_no"),
          shim.col(PQEncode(shim.expr(col("res")), model1.codebooks)).as("code"),
          shim.col(PQEncode(shim.expr(col("res2")), model2.codebooks)).as("code2"))
        val mat = codes.cache()
        mat.count()
        new IvfPqrIndex(nlist, coarse.centroids, model1, model2, mat, kFactor)
      } finally withErr.unpersist()
    } finally assigned.unpersist()
  }
}

object IvfPqIndex {
  /** Coarse k-means + residual PQ train + encode (IndexIVFPQ::train /
    * add_core; residual computed against the assigned centroid).
    *
    * `centroids0` replaces the internal k-means with a CALLER-SUPPLIED
    * centroid table — the lossy-quantizer composition
    * `IVF<n>(PQ<m>),PQ<m2>`: a PQ quantizer's ADC assignment and its
    * reconstruct() are EXACTLY the exact argmin over / lookup of the
    * DECODED centroid table (ADC to a code is the exact squared L2 to
    * its decode), so building over the decoded centroids reproduces
    * the reference's assign-through-the-quantizer adds AND its lossy
    * residuals with no new kernel. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16,
      niterCoarse: Int = 8, niterPq: Int = 6, seed: Long = 1234L,
      centroids0: Array[Array[Float]] = null): IvfPqIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents =
      if (centroids0 != null) {
        require(centroids0.length == nlist,
          s"centroids0 has ${centroids0.length} rows, nlist = $nlist")
        centroids0
      } else graft.cluster.KMeans.fit(data, "vec",
        graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse,
          seed = seed)).centroids
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = Probes.centroidsDf(spark, cents)
    val assigned = data
      .withColumn("_a", shim.col(graft.core.NearestCentroid(
        shim.expr(col("vec")), cents, "l2sq")))
      .withColumn("list_no", col("_a.list_no")).drop("_a")
      .join(broadcast(centDf), "list_no")
      .select(col("id"), col("list_no"), vec_sub(col("vec"), col("centroid")).as("res"))
      .cache()
    try {
      val model = Pq.train(assigned, "res", m, ksub, niterPq, seed)
      val codes = assigned.select(col("id"), col("list_no"),
        shim.col(PQEncode(shim.expr(col("res")), model.codebooks)).as("code"))
      // materialize codes before unpersisting the residuals
      val matCodes = codes.cache()
      matCodes.count()
      new IvfPqIndex(nlist, cents, model, matCodes)
    } finally { assigned.unpersist() }
  }
}
