package graft.index

import graft.SparkTestBase
import graft.core.Pq4Kernels
import graft.knn.Knn
import graft.eval.Recall
import org.apache.spark.sql.functions._

/** Fast-scan PQ family (IndexPQFastScan / IndexIVFPQFastScan,
  * faiss/IndexFastScan.h:29; LUT quantization quantize_lut.cpp:74). */
class FastScanSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def q = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val fs = Pq4FastScanIndex.build(b, "id", "vec", m = 8, niter = 5)

  test("nibble packing round-trips and halves the code width") {
    val codes = Array[Byte](3, 15, 7, 0, 9)
    val packed = Pq4Kernels.pack(codes)
    assert(packed.length == 3)
    assert((packed(0) & 0x0f) == 3 && ((packed(0) >> 4) & 0x0f) == 15)
    assert((packed(1) & 0x0f) == 7 && ((packed(1) >> 4) & 0x0f) == 0)
    assert((packed(2) & 0x0f) == 9)
  }

  test("quantized LUT: entries in [0,255], dequantized sum within M/(2a) of float ADC") {
    // hand LUT: 2 subquantizers x 4 entries
    val lut = Array(1.0, 3.0, 2.0, 5.0, 10.0, 11.0, 14.0, 10.5)
    val (lutq, a, bBias) = Pq4Kernels.quantLut(lut, m = 2, ksub = 4)
    assert(a == 255.0 / 4.0)          // max span = 5-1 = 4
    assert(bBias == 1.0 + 10.0)       // sum of per-subquantizer mins
    assert(lutq.forall(v => (v & 0xff) <= 255))
    // exact check of one entry: (3.0 - 1.0) * a + 0.5 floored
    assert((lutq(1) & 0xff) == math.floor(2.0 * a + 0.5).toInt)
    // dequantization error bound: each entry off by <= 0.5/a
    for (c0 <- 0 until 4; c1 <- 0 until 4) {
      val exact = lut(c0) + lut(4 + c1)
      val qsum = (lutq(c0) & 0xff) + (lutq(4 + c1) & 0xff)
      val approx = qsum / a + bBias
      assert(math.abs(approx - exact) <= 1.0 / a + 1e-9,
        s"approx $approx vs exact $exact")
    }
  }

  test("integer ADC equals sum of looked-up quantized entries") {
    val lut = (0 until 8).flatMap(m => (0 until 16).map(j => (m * j).toDouble)).toArray
    val (lutq, _, _) = Pq4Kernels.quantLut(lut, m = 8, ksub = 16)
    val codes = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val expected = codes.zipWithIndex.map { case (c, m) => lutq(m * 16 + c) & 0xff }.sum
    assert(Pq4Kernels.adcQ(Pq4Kernels.pack(codes), lutq) == expected)
  }

  test("fast-scan ranking tracks float ADC ranking (same codes, quantized LUT)") {
    val exact = PqIndex.build(b, "id", "vec", m = 8, ksub = 16, niter = 5)
    val viaFs = fs.search(q, 10)
    val viaAdc = exact.search(q, 10)
    // the two PQ models are trained identically (same seed/iters), so
    // overlap measures only LUT-quantization ranking damage
    val overlap = Recall.mean(viaAdc, viaFs)
    assert(overlap > 0.8, s"fast-scan vs float-ADC overlap $overlap")
  }

  test("fast-scan search recall above the lossy-PQ floor vs exact kNN") {
    val truth = Knn.knnJoin(q, b, 10)
    val rec = Recall.mean(truth, fs.search(q, 10))
    assert(rec > 0.15, s"recall $rec")
  }

  test("IVF fast-scan: nprobe=nlist matches flat fast-scan (same PQ seed)") {
    val ivf = IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4, m = 8,
      niterCoarse = 3, niterPq = 5)
    val flatTop = fs.search(q, 10).select("qid", "id", "qdist").collect().toSet
    val ivfTop = ivf.search(q, 10, nprobe = 4).select("qid", "id", "qdist").collect().toSet
    assert(ivfTop == flatTop)
  }

  test("AQ fast-scan: greedy scalar-RQ norm encode picks nearest codewords") {
    val ncb = Array(Array(0.0, 10.0, 20.0), Array(-1.0, 0.0, 1.0))
    assert(graft.core.Rq4FsKernels.encodeNorm(10.8, ncb).toSeq == Seq(1, 2))
    assert(graft.core.Rq4FsKernels.encodeNorm(19.0, ncb).toSeq == Seq(2, 0))
  }

  test("AQ fast-scan search tracks the float LUT ranking and beats the PQ floor") {
    val rq = Rq4FastScanIndex.build(b, "id", "vec", levels = 2, niter = 4)
    val truth = Knn.knnJoin(q, b, 10)
    val rec = Recall.mean(truth, rq.search(q, 10))
    assert(rec > 0.1, s"recall $rec")
    // approximate dist must be within the quantization error bound of
    // the true distance to the reconstruction: |err| <= (L+2)/a, and a
    // is per-query — spot-check the top hit of each query
    val rows = rq.search(q, 1).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Long]("qdist") >= 0))
  }

  test("factory token RQ2x4fs parses and searches") {
    val built = IndexFactory.build(b, "id", "vec", "RQ2x4fs", niter = 3)
    assert(built.search(q, 5).count() == 50)
  }

  test("rescale_norm (VERDICT r13 #3): scale-1 ADC degenerates to the plain ADC, " +
    "the scaler multiplies only the norm columns, and the adversarial-span " +
    "fixture trains norm_scale > 1") {
    val lut = (0 until 4).flatMap(m => (0 until 16).map(j => m * 1.5 + j * 0.25)).toArray
    val (lutq, _, _) = Pq4Kernels.quantLut(lut, m = 4, ksub = 16)
    val raw = Array[Byte](3, 7, 11, 15)
    val packed = Pq4Kernels.pack(raw)
    assert(Pq4Kernels.adcQScaled(packed, lutq, 1, 2) == Pq4Kernels.adcQ(packed, lutq))
    // scale 3 adds (3-1)x the norm columns' lookups on top of the plain sum
    val normPart = (2 until 4).map(m => lutq(m * 16 + raw(m)) & 0xff).sum
    assert(Pq4Kernels.adcQScaled(packed, lutq, 3, 2) ==
      Pq4Kernels.adcQ(packed, lutq) + 2L * normPart)
    // magnitudes 1/6/11/16x -> reconstruction norms spread ~256x: the
    // estimate (mean norm-span / IP-span, rounded) must land above 1,
    // the regime the reference's flat-family default actually rescales
    val adv = b.select(col("id"), transform(col("vec"), x =>
      x * (lit(1.0f) + pmod(col("id"), lit(4)).cast("float") * lit(5.0f))).as("vec"))
    val rs = Rq4FastScanIndex.build(adv, "id", "vec", levels = 2, niter = 3)
    assert(rs.normScale > 1, s"normScale=${rs.normScale}")
    assert(rs.search(q, 5).count() == 50)
    // rescaleNorm=false pins the pre-estimate state (norm_scale stays 1)
    val off = Rq4FastScanIndex.build(adv, "id", "vec", levels = 2, niter = 3,
      rescaleNorm = false)
    assert(off.normScale == 1)
  }

  test("estimateNormScale subsample never plans a corpus TakeOrdered " +
    "(VERDICT r14 #1: the KMeans hash-threshold pattern, not orderBy(hash).limit)") {
    val spark0 = spark
    import spark0.implicits._
    // force the subsample path: n > 65536
    val vecs = (0 until 70000)
      .map(i => Seq.fill(4)((i % 97).toFloat / 7f)).toDF("vec")
      .select(col("vec").cast("array<float>").as("vec"))
    val model = RqModel(2, 16, Array.fill(2)(
      Array.tabulate(16)(j => Array.tabulate(4)(d => (j + d).toFloat))))
    val normCb = Array.fill(2)(Array.tabulate(16)(_.toDouble * 10))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans += qe.executedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark0.listenerManager.register(listener)
    try {
      val scale = Rq4FastScanIndex.estimateNormScale(vecs, "vec", model,
        normCb, seed = 1234L)
      assert(scale >= 1)
      // listener delivery is async: poll until the plan list is
      // non-empty and stable (no Thread.sleep — a loaded machine must
      // not let the assertion pass vacuously on an empty list)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline &&
          (plans.isEmpty || plans.size != last)) {
        last = plans.size
        Thread.sleep(100)
      }
      assert(plans.nonEmpty, "listener never delivered any executed plan")
      val bad = plans.filter(_.contains("TakeOrderedAndProject"))
      assert(bad.isEmpty,
        s"rescale train planned a TakeOrdered:\n${bad.headOption.getOrElse("")}")
    } finally spark0.listenerManager.unregister(listener)
  }

  test("the catalog's adversarial rescale fixture still estimates norm_scale 8 " +
    "after the subsample plan fix (the oracle sidecars are scale-aware, but the " +
    "pinned value catches an accidental estimator change)") {
    // same construction as QueriesBase.advVecs at sf0.001 (n < 65536:
    // the subsample filter is a no-op here, so the estimate is the
    // full-set mean either way)
    val adv = b.select(col("id"), transform(col("vec"), x =>
      x * (lit(1.0f) + pmod(col("id"), lit(4)).cast("float") * lit(5.0f))).as("vec"))
    val rs = Rq4FastScanIndex.build(adv, "id", "vec", levels = 2, niter = 4)
    assert(rs.normScale == 8, s"normScale=${rs.normScale}")
  }

  test("IVF AQ fast-scan: nprobe=nlist matches the flat AQ fast-scan exactly") {
    val flat = Rq4FastScanIndex.build(b, "id", "vec", levels = 2, niter = 3)
    val ivf = IvfRq4FastScanIndex.fromFlat(flat, b, "id", "vec", nlist = 4,
      niterCoarse = 3)
    val flatTop = flat.search(q, 10).select("qid", "id", "qdist").collect().toSet
    val ivfTop = ivf.search(q, 10, nprobe = 4).select("qid", "id", "qdist").collect().toSet
    assert(ivfTop == flatTop)
    val viaFactory = IndexFactory.build(b, "id", "vec", "IVF4,RQ2x4fs", niter = 3)
    assert(viaFactory.search(q, 5, nprobe = 4).count() == 50)
  }

  test("AQ residual fast-scan (RQ2x4fsr): factory build matches the direct" +
    " build exactly; full-probe search tracks the decompress IVF-RQ ids") {
    // same deterministic calls underneath -> identical rows
    val direct = IvfRq4FastScanRIndex.build(b, "id", "vec", nlist = 4,
      levels = 2, niterCoarse = 3, niter = 3)
    val viaFactory = IndexFactory.build(b, "id", "vec", "IVF4,RQ2x4fsr", niter = 3)
    assert(viaFactory.description == "IVF4,RQ2x4fsr")
    assert(IndexFactory.codeSize("IVF4,RQ2x4fsr", 64) == 2)
    val d = direct.search(q, 10, nprobe = 4).collect().toSet
    val f = viaFactory.search(q, 10, nprobe = 4).collect().toSet
    assert(d == f)
    // graph-coarse composition degenerates to the exact probe set
    val g = IndexFactory.build(b, "id", "vec", "IVF4_HNSW16,RQ2x4fsr", niter = 3)
      .search(q, 10, nprobe = 4).collect().toSet
    assert(g == d)
    // quantized+biased ranking stays close to the decompress IVF-RQ
    // ranking built over the same residual-encode family: at least
    // half of each top-10 agrees (the quantization-slack convention
    // of the x4fsr PQ test)
    val ivfrq = IvfRq.build(b, "id", "vec", nlist = 4, levels = 2, k = 16,
      niterCoarse = 3, niterRq = 3, beam = 1, icmIters = 0)
    val exact = ivfrq.search(q, 10, nprobe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = direct.search(q, 10, nprobe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = got.intersect(exact).size.toDouble / exact.size
    assert(overlap >= 0.5, s"fsr vs decompress overlap $overlap")
    viaFactory.close()
  }

  test("AQ fast-scan family closure: LSQ/PRQ/PLSQ tokens, _N<norm> clause, " +
    "LSCQ alias, IVF and fsr compositions") {
    // LSQ fast-scan: ICM-refined codes, same scan; flat + IVF + fsr
    for (desc <- Seq("LSQ2x4fs", "IVF4,LSQ2x4fs", "IVF4,LSQ2x4fsr")) {
      val b = IndexFactory.build(this.b, "id", "vec", desc, niter = 3)
      assert(b.search(q, 5, nprobe = 4).count() == 50, desc)
      b.close()
    }
    // product forms through zero-padded effective codebooks
    for (desc <- Seq("PRQ2x2x4fs", "PLSQ2x2x4fs", "IVF4,PRQ2x2x4fs",
        "IVF4,PRQ2x2x4fsr")) {
      val b = IndexFactory.build(this.b, "id", "vec", desc, niter = 3)
      assert(b.search(q, 5, nprobe = 4).count() == 50, desc)
      b.close()
    }
    // the _N<norm> clause selects the norm codec; lsq2x4 must produce
    // a VALID scan (rows, ranks) and is allowed to reorder vs rq2x4
    val nlsq = IndexFactory.build(b, "id", "vec", "RQ2x4fs_Nlsq2x4", niter = 3)
    assert(nlsq.search(q, 5).count() == 50)
    nlsq.close()
    // LSCQ = the reference's alternative LSQ spelling
    val lscq = IndexFactory.build(b, "id", "vec", "LSCQ2x4", niter = 3)
    assert(lscq.description == "LSCQ2x4" && lscq.search(q, 5).count() == 50)
    lscq.close()
    assert(IndexFactory.codeSize("LSCQ2x4", 64) == 1)
    // code widths: ceil((levels + 2 norm nibbles) / 2) bytes
    assert(IndexFactory.codeSize("LSQ2x4fs", 64) == 2)
    assert(IndexFactory.codeSize("PRQ2x2x4fs", 64) == 3)
    assert(IndexFactory.codeSize("IVF4,PLSQ2x2x4fsr", 64) == 3)
    assert(IndexFactory.codeSize("RQ2x4fs_Nlsq2x4", 64) == 2)
  }

  test("PRQ fast-scan zero-padded scan equals the flat scan of the same codes") {
    // IVF at nprobe = nlist must reproduce the flat product scan
    // exactly (the fromFlat invariant, now over effective codebooks)
    val flat = Rq4FastScanIndex.build(b, "id", "vec", levels = 2,
      niter = 3, nsplit = 2)
    assert(flat.model.levels == 4) // 2 splits x 2 levels
    val ivf = IvfRq4FastScanIndex.fromFlat(flat, b, "id", "vec", nlist = 4,
      niterCoarse = 3)
    val flatTop = flat.search(q, 10).select("qid", "id", "qdist").collect().toSet
    val ivfTop = ivf.search(q, 10, nprobe = 4).select("qid", "id", "qdist").collect().toSet
    assert(ivfTop == flatTop)
  }

  test("factory tokens PQ8x4fs / IVF4,PQ8x4fs / bbs suffix parse and search") {
    val built = IndexFactory.build(b, "id", "vec", "PQ8x4fs", niter = 3)
    assert(built.search(q, 5).count() == 50)
    val ivfB = IndexFactory.build(b, "id", "vec", "IVF4,PQ8x4fs_64", niter = 3)
    assert(ivfB.search(q, 5, nprobe = 4).count() == 50)
  }

  test("residual fast-scan (x4fsr): bulk-load from IVFPQ, ids match the" +
    " float-ADC IVFPQ ranking within quantization slack") {
    val ivfpq = IvfPqIndex.build(b, "id", "vec", nlist = 4, m = 8, ksub = 16,
      niterCoarse = 3, niterPq = 3)
    val fsr = IvfPq4FastScanRIndex.fromIvfPq(ivfpq)
    assert(fsr.codes.select("code").head().getAs[Array[Byte]](0).length == 4)
    val exact = ivfpq.search(q, 10, nprobe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = fsr.search(q, 10, nprobe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same candidates scored through a uint8-quantized LUT: overlap
    // must be high though ranks near the boundary may swap
    val overlap = got.intersect(exact).size.toDouble / exact.size
    assert(overlap >= 0.8, s"fsr/ivfpq top-10 overlap $overlap")
    val viaFactory = IndexFactory.build(b, "id", "vec", "IVF4,PQ8x4fsr", niter = 3)
    assert(viaFactory.search(q, 5, nprobe = 4).count() == 50)
    assert(IndexFactory.codeSize("IVF4,PQ8x4fsr", 64) == 4)
  }

  /** The executed plan of `df` built with
    * `spark.sql.autoBroadcastJoinThreshold` at `threshold`. */
  private def planAt(threshold: String)(df: => org.apache.spark.sql.DataFrame) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, threshold)
    try df.queryExecution.executedPlan
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether a plan looks its probe rows up, and its broadcast count
    * (outside any cached relation's plan). */
  private def probeSide(plan: org.apache.spark.sql.execution.SparkPlan) =
    (plan.toString.contains("probe_lookup"),
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}.collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e }.size)

  test("IVF fast-scan probe side: per-query LUT rows are looked up in the scan" +
    " within the broadcast threshold, and broadcast past it") {
    // The quantized LUTs are computed once per query on the driver, as
    // the broadcast built them there before, and ride in the plan as
    // the probe lookup's table; past the threshold they broadcast.
    val ivf = IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4, m = 8,
      niterCoarse = 3, niterPq = 3)
    val lookup = ivf.search(q, 5, nprobe = 2).queryExecution.executedPlan
    assert(probeSide(lookup) == (true, 0), s"probe rows not looked up:\n$lookup")
    val joined = planAt("-1")(ivf.search(q, 5, nprobe = 2))
    assert(probeSide(joined) == (false, 1), s"probe rows not broadcast past the threshold:\n$joined")
  }

  test("x4fsr probe side: per-(query,list) residual LUTs are looked up in the scan" +
    " within the broadcast threshold, and broadcast past it") {
    val ivfpq = IvfPqIndex.build(b, "id", "vec", nlist = 4, m = 8, ksub = 16,
      niterCoarse = 3, niterPq = 3)
    val fsr = IvfPq4FastScanRIndex.fromIvfPq(ivfpq)
    val lookup = fsr.search(q, 5, nprobe = 2).queryExecution.executedPlan
    assert(probeSide(lookup) == (true, 0), s"probe rows not looked up:\n$lookup")
    val joined = planAt("-1")(fsr.search(q, 5, nprobe = 2))
    assert(probeSide(joined) == (false, 1), s"probe rows not broadcast past the threshold:\n$joined")
  }

  test("factory x4fsr Built.close() is wired, idempotent, and keeps searches valid") {
    // ADVICE r9: factory-built x4fsr indexes cache packed codes with a
    // close() contract the Built wrapper never honored — a discarded
    // build pinned a session-lifetime cached DataFrame. close() now
    // releases the cache (and the transform-chain base cache); later
    // searches simply recompute.
    val built = IndexFactory.build(b, "id", "vec", "IVF4,PQ8x4fsr", niter = 2)
    def res() = built.search(q, 3, nprobe = 4)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = res()
    built.close()
    built.close() // idempotent
    assert(res() == before, "post-close search must recompute identically")
  }
}
