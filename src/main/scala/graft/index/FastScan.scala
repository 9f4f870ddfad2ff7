package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core._
import graft.functions.topk

/** The ranked tail of the quantized-LUT fast-scan searches: the k best
  * integer scores `adc` per query over `cand`'s (queryId, id, _ql), which
  * also carry the query's affine (`_ql.a`, `_ql.b`) and with `qn` its
  * `_qn` through the aggregate. Output (queryId, rank, id, qdist: the
  * integer score, dist: qdist/a + b [+ qn], rounded to 4 places). */
private object FastScanTail {
  def apply(cand: DataFrame, adc: Column, queryId: String,
      k: Int, qn: Boolean): DataFrame = {
    val qnCol = if (qn) Seq("_qn") else Nil
    val carried = Seq("_a", "_b") ++ qnCol
    val scaled = col("_r.dist") / col("_a")
    cand.select(Seq(col(queryId), adc.cast("double").as("_d"), col("id"),
        col("_ql.a").as("_a"), col("_ql.b").as("_b")) ++ qnCol.map(col): _*)
      .groupBy(col(queryId))
      .agg(topk(col("_d"), col("id"), k, asc = true).as("_tk"),
        carried.map(c => first(col(c)).as(c)): _*)
      .select(col(queryId) +: carried.map(col) :+
        posexplode(col("_tk")).as(Seq("_pos", "_r")): _*)
      .select(col(queryId), (col("_pos") + 1).cast("long").as("rank"),
        col("_r.id").as("id"), col("_r.dist").cast("long").as("qdist"),
        round((if (qn) col("_qn") + scaled else scaled) + col("_b"), 4).as("dist"))
  }
}

/** Fast-scan PQ family (faiss/IndexFastScan.h:29 — IndexPQFastScan,
  * faiss/IndexPQFastScan.h:20; IndexIVFPQFastScan,
  * faiss/IndexIVFPQFastScan.h:26; factory token `PQ<M>x4fs`,
  * index_factory.cpp): 4-bit product quantizer whose codes are
  * nibble-packed (code_size = ceil(M/2)) and whose per-query LUT is
  * affine-quantized to uint8 (quantize_lut.cpp round_uint8_per_column)
  * so candidate scoring is pure small-integer accumulation —
  * approximate distance = qdist/a + b.
  *
  * The reference's bbs register-tile layout and AVX kernels are
  * physical-layer SIMD with no dataflow analog (SURVEY §7); what is
  * carried is everything that changes the scan at scale: half-width
  * codes on disk/wire, a 4 KiB LUT that stays cache/broadcast-resident,
  * and integer (not float) accumulate in the tight loop. Ranking
  * follows the quantized score exactly as the reference's
  * non-rescoring path does, so recall matches the reference's
  * semantics, not just its API.
  *
  * The IVF variant is non-residual (by_residual = false), matching the
  * reference default for IndexIVFPQFastScan
  * (IndexIVFPQFastScan.cpp:47: "set to false by default because it's
  * much faster") — ONE quantized LUT per query shared across probes,
  * broadcast with the probe table.
  */
class Pq4FastScanIndex(val model: PqModel, val codes: DataFrame) {
  // exactly 16: Pq4AdcQ derives M from lutq.length >> 4 and strides
  // 16-entry columns, so a narrower codebook would misalign the scan
  require(model.ksub == 16, s"fast-scan needs 4-bit codes (ksub=16), got ksub=${model.ksub}")

  /** Exact integer replay of the quantized scan: qid, rank, id,
    * qdist (integer score), dist (≈ float ADC distance). */
  def search(queries: DataFrame, k: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val q = queries.select(col(queryId),
      shim.col(Pq4QuantLut(shim.expr(col(queryVec)), model.codebooks)).as("_ql"))
    FastScanTail(codes.crossJoin(broadcast(q)),
      shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("_ql.lutq")))),
      queryId, k, qn = false)
  }
}

object Pq4FastScanIndex {
  /** Train a 4-bit PQ and nibble-pack the codes (compute_codes +
    * pq4_pack_codes logical content). */
  def build(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      niter: Int = 8, seed: Long = 1234L): Pq4FastScanIndex = {
    val model = Pq.train(df, vecCol, m, ksub = 16, niter = niter, seed = seed)
    // materialize: encoding is add-time work (compute_codes), not
    // something every search should redo
    val codes = df.select(col(idCol).as("id"),
      shim.col(Pq4PackCodes(
        PQEncode(shim.expr(col(vecCol)), model.codebooks))).as("code"))
      .cache()
    codes.count()
    new Pq4FastScanIndex(model, codes)
  }
}

/** IVFPQFastScan analog: coarse quantizer for list pruning + the
  * quantized-LUT integer scan over nibble-packed NON-residual codes
  * (reference default). codes: (id, list_no, code). */
class IvfPq4FastScanIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model: PqModel,
    val codes: DataFrame) {

  private val graphCacheKey = java.util.UUID.randomUUID().toString

  /** `coarse = Some(HnswCoarse/NsgCoarse)`: graph-walk probe
    * selection (the `IVF<n>_{HNSW,NSG}<m>,PQ<M>x4fs` factory
    * compositions; budget >= nlist degenerates to exact). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    // LUT computed ONCE per query (pre-explode), replicated over the
    // probe rows by the generator
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val probesPlan = Probes.rows(q, Seq(col(queryId),
      shim.col(Pq4QuantLut(shim.expr(col(queryVec)), model.codebooks)).as("_ql")))
    FastScanTail(Probes.scan(codes, probesPlan, Some(probed)),
      shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("_ql.lutq")))),
      queryId, k, qn = false)
  }
}

/** Additive-quantizer fast-scan (IndexAdditiveQuantizerFastScan,
  * faiss/IndexAdditiveQuantizerFastScan.h:30; factory `RQ<L>x4fs`,
  * search type ST_norm_rq2x4): RQ codes + a two-nibble scalar-RQ norm
  * code, scanned as ONE (L+2)-column quantized-LUT integer accumulate
  * — L columns of −2·<q,cb> and two norm-codebook columns. dist ≈
  * qnorm + qdist/a + b.
  *
  * `normScale` (rescale_norm, the FLAT-family default TRUE —
  * IndexAdditiveQuantizerFastScan.h:34): when the norm columns' span
  * dominates the IP columns' span, one shared uint8 grid crushes the
  * IP resolution; the trained norm_scale divides the norm columns
  * before quantization and the integer scan multiplies their lookups
  * back ([[graft.core.Pq4AdcQScaled]] = NormTableScaler). As in the
  * reference, the dequantized bias keeps the DIVIDED norm mins, so
  * reported distances carry a constant per-query offset — ranking,
  * which is what the quantized scan returns, is unaffected.
  * codes: (id, code: packed nibbles). */
class Rq4FastScanIndex(
    val model: RqModel,
    /** scalar norm codebooks [2][16] (AdditiveQuantizer norm_tabs). */
    val normCb: Array[Array[Double]],
    val codes: DataFrame,
    /** trained norm_scale (1 = no rescale, the pre-estimate state). */
    val normScale: Int = 1) {
  require(model.k == 16, s"fast-scan needs 4-bit codes (k=16), got k=${model.k}")
  require(normCb.forall(_.length == 16),
    s"norm codebooks must be padded to 16 entries, got ${normCb.map(_.length).toSeq}")

  def search(queries: DataFrame, k: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val q = queries.select(col(queryId),
      shim.col(Rq4FsQuantLut(shim.expr(col(queryVec)), model.codebooks, normCb,
        normScale)).as("_ql"),
      aggregate(col(queryVec).cast("array<double>"), lit(0.0),
        (a, x) => a + x * x).as("_qn"))
    val adc =
      if (normScale > 1)
        shim.col(graft.core.Pq4AdcQScaled(shim.expr(col("code")),
          shim.expr(col("_ql.lutq")), normScale, 2))
      else
        shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("_ql.lutq"))))
    FastScanTail(codes.crossJoin(broadcast(q)), adc, queryId, k, qn = true)
  }
}

object Rq4FastScanIndex {
  /** Train the 1-D two-level norm RQ (AdditiveQuantizer::train_norm
    * for ST_norm_rq2x4) over a norm column: level 1 = exact 1-D
    * k-means on the norms; level 2 = on the level-1 residuals (greedy
    * scalar RQ). Trained on a bounded deterministic subsample (the
    * Pq.train idiom) so the driver-side DP never sees more than 64k
    * distinct values at corpus scale. Shared by the flat/non-residual
    * builds (norms of the decode) and the by-residual build (norms of
    * centroid + decode). */
  private[index] def trainNormCb(df: DataFrame, normCol: String,
      seed: Long): Array[Array[Double]] = {
    val sample = df
      .withColumn("_h", xxhash64(col(normCol), lit(seed)))
      .orderBy(col("_h")).limit(65536).drop("_h").cache()
    val l1 = graft.cluster.KMeans1D.fit(sample, normCol, 16).centroids
    val resid = sample.withColumn("_r", col(normCol) -
      element_at(typedlit(l1.toSeq),
        shim.col(ScalarRq2Encode(shim.expr(col(normCol)), Array(l1)))
          .getItem(0) + 1))
    val l2 = graft.cluster.KMeans1D.fit(resid, "_r", 16).centroids
    sample.unpersist()
    // KMeans1D returns min(16, distinct values) centroids; pad with
    // the last centroid so every LUT column is a full 16-entry
    // stride on BOTH the engine and the oracle-sidecar side
    // (duplicate entries are argmin/min-neutral)
    def pad16(a: Array[Double]) =
      if (a.length >= 16) a else a ++ Array.fill(16 - a.length)(a.last)
    Array(pad16(l1), pad16(l2))
  }

  /** The `_N<norm>` clause on fast-scan tokens (aq_norm_pattern,
    * index_factory.cpp:610,626): "rq2x4" = greedy two-level 1-D RQ
    * over the reconstruction norms (ST_norm_rq2x4, the carried
    * default), "lsq2x4" = LSQ-refined codebooks + the exact joint
    * 256-pair assignment (ST_norm_lsq2x4). Returns (codebooks,
    * encode-column builder). */
  private[index] def normCodec(withNorm: DataFrame, normCol: String,
      seed: Long, normType: String):
      (Array[Array[Double]], org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    normType match {
      case "rq2x4" =>
        val cb = trainNormCb(withNorm, normCol, seed)
        (cb, c => ScalarRq2EncodeCol(c, cb))
      case "lsq2x4" =>
        val cb = RqNorms.norm2Codebooks(withNorm, normCol, seed, lsqIters = 3)
        (cb, c => shim.col(ScalarLsq2Encode(shim.expr(c), cb)))
      case other => throw new IllegalArgumentException(
        s"fast-scan norm type must be rq2x4 or lsq2x4, got $other")
    }

  /** Train RQ(levels×4bit) + the 1-D two-level norm RQ
    * (AdditiveQuantizer::train_norm for ST_norm_rq2x4) and encode
    * packed codes. Norm codebooks come from exact 1-D k-means per
    * level over the reconstruction norms (the reference trains an
    * RQ(1,2,4) in RAM; Clustering1D is its exact-DP sibling).
    * `icmIters > 0` = the LSQ-family encoder (`LSQ<L>x4fs`,
    * IndexLocalSearchQuantizerFastScan — same scan, ICM-refined
    * codes); `nsplit > 1` = the product forms (`PRQ/PLSQ
    * <ns>x<L>x4fs`, IndexProductAdditiveQuantizerFastScan): each
    * split trains an independent RQ, and the SCAN reuses the flat
    * machinery verbatim through ZERO-PADDED effective codebooks —
    * <q, cb_eff[s*L+l][j]> = <q_slice_s, cb_s[l][j]>, so the
    * (ns*L+2)-column integer LUT scan is unchanged.
    * `rescaleNorm` (default TRUE, the flat-family reference default —
    * IndexAdditiveQuantizerFastScan.h:34) trains norm_scale via
    * [[estimateNormScale]]; the IVF wrappers ignore it (the IVF
    * family's reference default is false,
    * IndexIVFAdditiveQuantizerFastScan.h:41). */
  def build(df: DataFrame, idCol: String, vecCol: String, levels: Int = 2,
      niter: Int = 6, seed: Long = 1234L, beam: Int = 1,
      model0: RqModel = null, icmIters: Int = 0, nsplit: Int = 1,
      normType: String = "rq2x4",
      rescaleNorm: Boolean = true): Rq4FastScanIndex = {
    require(model0 == null || nsplit == 1,
      "model0 is a flat-RQ override; the product forms train per split")
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val (model, encCol) =
      if (nsplit > 1) {
        val prq = Prq.train(data.select(col("vec")), "vec", nsplit,
          levels, 16, niter = niter, seed = seed, beam = beam)
        (effectiveModel(prq), prq.encodeCol(col("vec"), beam, icmIters))
      } else {
        val m =
          if (model0 != null) model0
          else Rq.train(data.select(col("vec")), "vec", levels, 16,
            niter = niter, seed = seed, beam = beam)
        (m, m.encodeCol(col("vec"), beam, icmIters))
      }
    val withNorm = data.select(col("id"), encCol.as("_codes"))
      .withColumn("_norm", aggregate(
        model.decodeCol(col("_codes")).cast("array<double>"),
        lit(0.0), (a, x) => a + x * x))
      .cache()
    try {
      val (normCb, nEnc) = normCodec(withNorm, "_norm", seed, normType)
      val codes = withNorm.select(col("id"),
        shim.col(Rq4PackCodes(shim.expr(concat(col("_codes"),
          nEnc(col("_norm")))))).as("code"))
        .cache()
      val n = codes.count()
      val ns = if (rescaleNorm)
        estimateNormScale(data, "vec", model, normCb, seed, total = n) else 1
      new Rq4FastScanIndex(model, normCb, codes, ns)
    } finally withNorm.unpersist()
  }

  /** Zero-padded effective flat model of a product AQ: codebook row
    * (s*L + l) holds split s's level-l codewords placed at dims
    * [s*dsub, (s+1)*dsub) and zeros elsewhere, so decode-sums and
    * query LUTs distribute exactly as in the flat case. Encode still
    * goes through the per-split [[PrqModel.encodeCol]] (a greedy
    * argmin over the padded codebooks would NOT factor per split). */
  def effectiveModel(prq: PrqModel): RqModel = {
    val d = prq.nsplit * prq.dsub
    val eff = prq.sub.zipWithIndex.flatMap { case (m, s) =>
      m.codebooks.map(_.map { cw =>
        val row = new Array[Float](d)
        System.arraycopy(cw, 0, row, s * prq.dsub, prq.dsub)
        row
      })
    }
    RqModel(prq.nsplit * prq.levels, prq.sub(0).k, eff)
  }

  private[index] def ScalarRq2EncodeCol(c: org.apache.spark.sql.Column,
      normCb: Array[Array[Double]]): org.apache.spark.sql.Column =
    shim.col(ScalarRq2Encode(shim.expr(c), normCb))

  /** estimate_norm_scale (IndexAdditiveQuantizerFastScan.cpp:111-145,
    * quantize_lut::aq_estimate_norm_scale): mean over (subsampled)
    * training vectors of max-norm-column-span / max-IP-column-span,
    * then round(max(scale, 1)). The norm columns are query-independent
    * (they hold the norm codebooks), so the per-query part reduces to
    * the span of the −2·<q,cb> columns — span of −2x over j is
    * 2·span(x), computed distributively from the existing [[RQLut]]
    * expression; one bounded aggregate, no driver loop. LUTs here are
    * double (the repo's established LUT convention vs the reference's
    * float) — the ratio is rounded to an int, so the precision
    * difference does not move the trained scale. Degenerate rows with
    * zero IP span are excluded (the reference would propagate inf).
    *
    * Subsampling uses the KMeans hash-THRESHOLD filter
    * (cluster/KMeans.scala: orderBy(hash).limit(n) plans a corpus-wide
    * TakeOrdered that merges 65k d-dim vectors per partition on the
    * driver — the scale-killer); the filter keeps ≈65536 rows fully
    * distributed. The reference's fvecs_maybe_subsample
    * (IndexAdditiveQuantizerFastScan.cpp:117-121) is itself a seeded
    * random subset, so either deterministic subset is equally faithful
    * (SURVEY §7 seeded-RNG parity).
    *
    * `total`: pass the row count when the caller already knows it
    * ([[build]] reuses the codes-materialization count) so the
    * estimate costs ONE pass over possibly-expensive upstream plans
    * instead of count + train; < 0 means count here. */
  private[index] def estimateNormScale(data: DataFrame, vecCol: String,
      model: RqModel, normCb: Array[Array[Double]], seed: Long,
      total: Long = -1L): Int = {
    val spanNorm = normCb.map(cb => cb.max - cb.min).max
    if (spanNorm <= 0.0) return 1
    val k = model.k
    val levels = model.codebooks.length
    val lut = shim.col(RQLut(shim.expr(col(vecCol)), model.codebooks))
    val spans = transform(sequence(lit(0), lit(levels - 1)), l =>
      array_max(slice(col("_lut"), l * k + 1, lit(k))) -
        array_min(slice(col("_lut"), l * k + 1, lit(k))))
    val maxTrain = 65536L
    val nTotal = if (total >= 0) total else data.count()
    val sampled =
      if (nTotal > maxTrain) {
        val buckets = 1L << 30
        val keep = math.min(buckets,
          (maxTrain.toDouble / nTotal * buckets).toLong + 1)
        data.filter(pmod(xxhash64(col(vecCol), lit(seed)), lit(buckets)) < keep)
      } else data
    val row = sampled
      .select(lut.as("_lut"))
      .select((lit(2.0) * array_max(spans)).as("_si"))
      .filter(col("_si") > 0)
      .agg(avg(lit(spanNorm) / col("_si"))).first()
    if (row.isNullAt(0)) 1
    else math.round(math.max(row.getDouble(0), 1.0)).toInt
  }
}

/** IVF AQ fast-scan (IndexIVFAdditiveQuantizerFastScan,
  * faiss/IndexIVFAdditiveQuantizerFastScan.h:29) in its non-residual
  * form: a coarse quantizer prunes lists, the candidates are scored by
  * the same (L+2)-column quantized-LUT integer scan as the flat
  * [[Rq4FastScanIndex]] (ONE LUT per query — the residual form would
  * need per-probe LUTs, trading the broadcast-LUT scan shape for
  * encoder quality). norm_scale stays 1: the IVF family's reference
  * default is rescale_norm = FALSE
  * (IndexIVFAdditiveQuantizerFastScan.h:41, vs true for the flat
  * family), so wrapping a rescaling flat index searches unscaled —
  * the codes are scale-independent. codes: (id, list_no, code). */
class IvfRq4FastScanIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model: RqModel,
    val normCb: Array[Array[Double]],
    val codes: DataFrame) {

  private val graphCacheKey = java.util.UUID.randomUUID().toString

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val probesPlan = Probes.rows(q, Seq(col(queryId),
      shim.col(Rq4FsQuantLut(shim.expr(col(queryVec)), model.codebooks, normCb))
        .as("_ql"),
      aggregate(col(queryVec).cast("array<double>"), lit(0.0),
        (a, x) => a + x * x).as("_qn")))
    FastScanTail(Probes.scan(codes, probesPlan, Some(probed)),
      shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("_ql.lutq")))),
      queryId, k, qn = true)
  }
}

object IvfRq4FastScanIndex {
  /** Wrap a flat AQ fast-scan index with a coarse quantizer: the
    * packed codes are UNCHANGED (same scan arithmetic), only grouped
    * into lists by the coarse assignment. */
  def fromFlat(flat: Rq4FastScanIndex, df: DataFrame, idCol: String,
      vecCol: String, nlist: Int, niterCoarse: Int = 6,
      seed: Long = 1234L): IvfRq4FastScanIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = graft.cluster.KMeans.fit(data, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse, seed = seed))
    val codes = coarse.assign(data, "vec").select(col("id"), col("list_no"))
      .join(flat.codes, "id")
      .cache()
    codes.count()
    new IvfRq4FastScanIndex(coarse.centroids.length, coarse.centroids,
      flat.model, flat.normCb, codes)
  }

  def build(df: DataFrame, idCol: String, vecCol: String, nlist: Int = 16,
      levels: Int = 2, niterCoarse: Int = 6, niter: Int = 6,
      seed: Long = 1234L, icmIters: Int = 0, nsplit: Int = 1,
      normType: String = "rq2x4"): IvfRq4FastScanIndex =
    fromFlat(Rq4FastScanIndex.build(df, idCol, vecCol, levels, niter, seed,
      icmIters = icmIters, nsplit = nsplit, normType = normType),
      df, idCol, vecCol, nlist, niterCoarse, seed)
}

/** IVF AQ fast-scan with `by_residual = true` (factory
  * `IVF<n>,RQ<L>x4fsr`; IndexIVFAdditiveQuantizerFastScan.cpp:590 and
  * the LUT-math block :353-403): the RQ encodes RESIDUALS, but the
  * stored 2-nibble norm code carries the FULL reconstruction norm
  * ||c + decode(r)||^2 instead of the residual norm — the reference's
  * trick that keeps ONE LUT per query:
  *
  *   d(q, x_hat) = q^2 - 2<q,c> - 2<q,r_hat> + ||x_hat||^2
  *
  * so the (L+2)-column quantized-LUT integer scan of the non-residual
  * form applies unchanged (LUT[m][k] = -2<q, cb[m][k]> over q itself,
  * norm columns appended), and the by-residual part reduces to a
  * per-(query, probed-list) SCALAR bias -2<q,c> carried in the
  * broadcast probe table ("biases" in compute_LUT :425-441). Because
  * the bias varies per list, candidates are ranked on the DEQUANTIZED
  * q^2 + bias + qdist/a + b (the IvfPq4FastScanRIndex normalizer
  * convention); norm_scale stays 1 — the IVF family's reference
  * default is rescale_norm = false
  * (IndexIVFAdditiveQuantizerFastScan.h:41).
  * codes: (id, list_no, code packed [L residual nibbles + 2 norm]). */
class IvfRq4FastScanRIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    /** residual RQ codebooks. */
    val model: RqModel,
    val normCb: Array[Array[Double]],
    val codes: DataFrame) {

  /** Release the cached packed-codes table (the x4fsr close contract,
    * ADVICE r8). */
  def close(): Unit = codes.unpersist(blocking = false)

  private val graphCacheKey = java.util.UUID.randomUUID().toString

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    // ONE quantized LUT + ||q||^2 per query (pre-explode), a scalar
    // -2<q,c> bias per probe row
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec),
      shim.col(Rq4FsQuantLut(shim.expr(col(queryVec)), model.codebooks, normCb))
        .as("_ql"),
      aggregate(col(queryVec).cast("array<double>"), lit(0.0),
        (a, x) => a + x * x).as("_qn")))
      .select(col(queryId), col("list_no"), col("_ql"), col("_qn"),
        (lit(-2.0) * graft.functions.inner_product(col(queryVec),
          Probes.centroid(col("list_no"), centroids))).as("_bias"))
    val cand = Probes.scan(codes, probesPlan, Some(probed))
      .select(col(queryId), col("id"),
        (col("_qn") + col("_bias") +
          shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("_ql.lutq"))))
            .cast("double") / col("_ql.a") + col("_ql.b")).as("_dist"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
      .select(col(queryId), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
  }
}

object IvfRq4FastScanRIndex {
  /** Train coarse + residual 4-bit AQ + the full-reconstruction-norm
    * 2x4 codec, encode packed codes (`IVF<n>,RQ<L>x4fsr`; `icmIters`
    * selects the LSQ-family encoder, `nsplit > 1` the product forms,
    * `normType` the `_N<norm>` clause — all composing exactly like the
    * flat [[Rq4FastScanIndex.build]]). */
  def build(df: DataFrame, idCol: String, vecCol: String, nlist: Int = 16,
      levels: Int = 2, niterCoarse: Int = 6, niter: Int = 6,
      seed: Long = 1234L, icmIters: Int = 0, nsplit: Int = 1,
      normType: String = "rq2x4"): IvfRq4FastScanRIndex = {
    import graft.functions.{vec_add, vec_sub}
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = graft.cluster.KMeans.fit(data, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse, seed = seed))
    val centDf = Probes.centroidsDf(df.sparkSession, coarse.centroids)
    val assigned = coarse.assign(data, "vec")
      .join(broadcast(centDf), "list_no")
      .select(col("id"), col("list_no"), col("centroid"),
        vec_sub(col("vec"), col("centroid")).as("res"))
      .cache()
    try {
      val (model, encCol) =
        if (nsplit > 1) {
          val prq = Prq.train(assigned.select(col("res")), "res", nsplit,
            levels, 16, niter = niter, seed = seed, beam = 1)
          (Rq4FastScanIndex.effectiveModel(prq),
            prq.encodeCol(col("res"), 1, icmIters))
        } else {
          val m = Rq.train(assigned.select(col("res")), "res",
            levels, 16, niter = niter, seed = seed, beam = 1)
          (m, m.encodeCol(col("res"), 1, icmIters))
        }
      // norm stored = ||centroid + decode(residual codes)||^2 — the
      // FULL reconstruction norm (train_residual :186-207 computes
      // fvec_norms_L2sqr over decoded_x including the centroid)
      val withNorm = assigned.select(col("id"), col("list_no"),
        encCol.as("_codes"), col("centroid"))
        .withColumn("_norm", aggregate(
          vec_add(col("centroid"), model.decodeCol(col("_codes")))
            .cast("array<double>"),
          lit(0.0), (a, x) => a + x * x))
        .cache()
      try {
        val (normCb, nEnc) =
          Rq4FastScanIndex.normCodec(withNorm, "_norm", seed, normType)
        val codes = withNorm.select(col("id"), col("list_no"),
          shim.col(Rq4PackCodes(shim.expr(concat(col("_codes"),
            nEnc(col("_norm")))))).as("code"))
          .cache()
        codes.count()
        new IvfRq4FastScanRIndex(nlist, coarse.centroids, model, normCb, codes)
      } finally withNorm.unpersist()
    } finally assigned.unpersist()
  }
}

/** IVFPQFastScan with `by_residual = true` (factory suffix `r`:
  * `IVF<n>,PQ<M>x4fsr`, index_factory.cpp:328-335; the reference
  * non-default that trades the shared-LUT scan for residual-encoding
  * accuracy). Codes are nibble-packed PQ codes of the RESIDUAL
  * (vector − its list centroid), so the quantized LUT is per
  * (query, probed list) — still tiny (nq·nprobe·(16·M+16) bytes) and
  * broadcast with the probe table; the scan arithmetic is the same
  * integer [[graft.core.Pq4AdcQ]]. Because each list has its own
  * affine (a, b), candidates are ranked on the DEQUANTIZED
  * approximate distance qdist/a + b — the reference's per-list
  * `normalizers` applied before the cross-list heap merge
  * (IndexIVFFastScan.cpp). */
class IvfPq4FastScanRIndex(
    val nlist: Int,
    val centroids: Array[Array[Float]],
    val model: PqModel,
    /** (id, list_no, code) — packed residual codes. */
    val codes: DataFrame) {

  /** Release the cached packed-codes table. fromIvfPq caches it
    * (add-time work); an index discarded without close() pins that
    * storage until session end (ADVICE r8). */
  def close(): Unit = codes.unpersist(blocking = false)

  private val graphCacheKey = java.util.UUID.randomUUID().toString

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    import graft.functions.vec_sub
    // per (query, probed list): float32 residual -> double LUT ->
    // uint8 quantization
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .select(col(queryId), col("list_no"),
        shim.col(Pq4QuantLut(
          shim.expr(vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids))),
          model.codebooks)).as("_ql"))
    val cand = Probes.scan(codes, probesPlan, Some(probed))
      .select(col(queryId), col("id"),
        (shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("_ql.lutq"))))
          .cast("double") / col("_ql.a") + col("_ql.b")).as("_dist"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
      .select(col(queryId), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
  }
}

object IvfPq4FastScanRIndex {
  /** Bulk-load from a trained residual IVFPQ (the reference's
    * IndexIVFPQFastScan(const IndexIVFPQ&) constructor,
    * IndexIVFPQFastScan.cpp): same centroids, same codebooks, the
    * existing byte-per-code residual codes nibble-packed. Requires
    * 4-bit codes (ksub = 16). */
  def fromIvfPq(ivfpq: IvfPqIndex): IvfPq4FastScanRIndex = {
    require(ivfpq.model.ksub == 16,
      s"fast-scan needs 4-bit codes (ksub=16), got ksub=${ivfpq.model.ksub}")
    val codes = ivfpq.codes.select(col("id"), col("list_no"),
      shim.col(Pq4PackCodes(shim.expr(col("code")))).as("code"))
      .cache()
    codes.count()
    new IvfPq4FastScanRIndex(ivfpq.nlist, ivfpq.centroids, ivfpq.model, codes)
  }

  /** Train coarse + residual 4-bit PQ from scratch (IVF<n>,PQ<M>x4fsr). */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, niterCoarse: Int = 8, niterPq: Int = 6,
      seed: Long = 1234L): IvfPq4FastScanRIndex =
    fromIvfPq(IvfPqIndex.build(df, idCol, vecCol, nlist, m, ksub = 16,
      niterCoarse = niterCoarse, niterPq = niterPq, seed = seed))
}

object IvfPq4FastScanIndex {
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8,
      niterCoarse: Int = 8, niterPq: Int = 6, seed: Long = 1234L): IvfPq4FastScanIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = graft.cluster.KMeans.fit(data, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niterCoarse, seed = seed))
    // non-residual: PQ trained on (and encoding) the raw vectors
    val model = Pq.train(data, "vec", m, ksub = 16, niter = niterPq, seed = seed)
    val codes = coarse.assign(data, "vec")
      .select(col("id"), col("list_no"),
        shim.col(Pq4PackCodes(
          PQEncode(shim.expr(col("vec")), model.codebooks))).as("code"))
      .cache()
    codes.count()
    new IvfPq4FastScanIndex(coarse.centroids.length, coarse.centroids, model, codes)
  }
}
