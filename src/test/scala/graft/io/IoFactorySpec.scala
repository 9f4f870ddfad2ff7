package graft.io

import graft.SparkTestBase
import graft.index.{IndexFactory, MinMaxCodec}
import graft.knn.Knn
import org.apache.spark.sql.functions._

class IoFactorySpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def q = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("fvecs round-trip: write locally, distributed read back") {
    val vecs = emb.limit(20).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val path = java.nio.file.Files.createTempDirectory("vecs").toString + "/t.fvecs"
    VecsIO.writeFvecsLocal(path, vecs.iterator)
    val back = VecsIO.readFvecs(spark, path).orderBy("id").collect()
    assert(back.length == 20)
    back.zip(vecs).foreach { case (row, orig) =>
      assert(row.getSeq[Float](1).toArray.toSeq == orig.toSeq)
    }
  }

  test("factory Flat == direct knnJoin") {
    val f = IndexFactory.build(b, "id", "vec", "Flat")
    val got = f.search(q, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Knn.knnJoin(q, b, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("factory IVF8,Flat with nprobe=8 == exact") {
    val f = IndexFactory.build(b, "id", "vec", "IVF8,Flat")
    val got = f.search(q, 5, nprobe = 8).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Knn.knnJoin(q, b, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("factory additive quantizers: RQ2x4, PRQ2x2x4, IVF8,RQ2x4") {
    val rq = IndexFactory.build(b, "id", "vec", "RQ2x4")
    assert(rq.search(q, 3).count() == 15)
    val prq = IndexFactory.build(b, "id", "vec", "PRQ2x2x4")
    assert(prq.search(q, 3).count() == 15)
    val ivfrq = IndexFactory.build(b, "id", "vec", "IVF8,RQ2x4")
    assert(ivfrq.search(q, 3, nprobe = 8).count() == 15)
    assert(IndexFactory.codeSize("RQ2x4", 64) == 1)
    assert(IndexFactory.codeSize("PRQ2x2x4", 64) == 2)
    assert(IndexFactory.codeSize("IVF8,RQ2x4", 64) == 1)
  }

  test("factory LSQ/PLSQ tokens: ICM encoder, AQ reconstruction search (r9)") {
    // LSQ<L>x<nb> / PLSQ<ns>x<L>x<nb> (IndexAdditiveQuantizer.h:119)
    val lsq = IndexFactory.build(b, "id", "vec", "LSQ2x4")
    assert(lsq.search(q, 3).count() == 15)
    val plsq = IndexFactory.build(b, "id", "vec", "PLSQ2x2x4")
    assert(plsq.search(q, 3).count() == 15)
    val ivflsq = IndexFactory.build(b, "id", "vec", "IVF8,LSQ2x4")
    assert(ivflsq.search(q, 3, nprobe = 8).count() == 15)
    assert(IndexFactory.codeSize("LSQ2x4", 64) == 1)
    assert(IndexFactory.codeSize("PLSQ2x2x4", 64) == 2)
    assert(IndexFactory.codeSize("IVF8,LSQ2x4", 64) == 1)
  }

  test("factory IVF16(RCQ2x2),Flat: RCQ coarse, exact at full probe (r9)") {
    val f = IndexFactory.build(b, "id", "vec", "IVF16(RCQ2x2),Flat")
    // probing every virtual list makes the pruned scan exact
    val got = f.search(q, 5, nprobe = 16).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Knn.knnJoin(q, b, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(IndexFactory.codeSize("IVF16(RCQ2x2),Flat", 64) == 256)
    // nlist must agree with 2^(levels*bits), as in the reference parser
    intercept[IllegalArgumentException] {
      IndexFactory.build(b, "id", "vec", "IVF8(RCQ2x2),Flat")
    }
  }

  test("factory Refine(<code>) suffix re-ranks on the refine codec (r9)") {
    // Refine(Flat) == RFlat: exact re-rank, so full-probe results are
    // exact regardless of the coarse stage
    val want = Knn.knnJoin(q, b, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rf = IndexFactory.build(b, "id", "vec", "IVF8,Flat,Refine(Flat)")
    val got = rf.search(q, 5, nprobe = 8).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // Refine(SQfp16): half-precision reconstruction re-rank — near
    // lossless at this scale, must still be exact on well-separated
    // neighbors
    val rs = IndexFactory.build(b, "id", "vec", "PQ8,Refine(SQfp16)")
    assert(rs.search(q, 5).count() == q.count() * 5)
    val rp = IndexFactory.build(b, "id", "vec", "SQ8,Refine(PQ8)", niter = 2)
    assert(rp.search(q, 5).count() == q.count() * 5)
    intercept[IllegalArgumentException] {
      IndexFactory.build(b, "id", "vec", "IVF8,Flat,Refine(NoSuch)")
    }
  }

  test("factory MinMax[FP16] codec wrapper (r9)") {
    // IndexRowwiseMinMax[FP16] (index_factory.cpp:811): rowwise [0,1]
    // scaling around an inner codec; +8 (fp32) / +4 (fp16) coefficient
    // bytes. Codec-only in the reference; reconstruction-scan here.
    assert(IndexFactory.codeSize("MinMax,SQ8", 64) == 72)
    assert(IndexFactory.codeSize("MinMaxFP16,SQ8", 64) == 68)
    assert(IndexFactory.codeSize("MinMax,SQfp16", 64) == 136)
    for (desc <- Seq("MinMax,SQfp16", "MinMaxFP16,SQ8")) {
      val f = IndexFactory.build(b, "id", "vec", desc)
      assert(f.search(q, 5).count() == q.count() * 5, desc)
    }
    // the decoded rows stay close: roundtrip error per element is
    // bounded by the inner step times the row scale
    val dec = MinMaxCodec.roundtripDf(b, "id", "vec", "SQfp16", fp16Coeffs = false)
    val joined = b.join(dec.withColumnRenamed("vec", "dv"), "id")
      .select(aggregate(zip_with(col("vec").cast("array<double>"), col("dv"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x).as("err"))
    val maxErr = joined.agg(max(col("err"))).head().getDouble(0)
    assert(maxErr < 1e-3, s"roundtrip err $maxErr")
  }

  test("MinMax wrapper composes with SQ4/SQ6/PQ inners (reference wraps any index)") {
    // IndexRowwiseMinMax.h:34 wraps ANY index; the buildable inner set
    // now covers the codec family. codeSize = inner bytes + coeffs.
    assert(IndexFactory.codeSize("MinMax,SQ4", 64) == 32 + 8)
    assert(IndexFactory.codeSize("MinMaxFP16,SQ6", 64) == 48 + 4)
    assert(IndexFactory.codeSize("MinMax,PQ8", 64) == 8 + 8)
    for (desc <- Seq("MinMax,SQ4", "MinMax,SQ6", "MinMax,PQ8", "MinMaxFP16,PQ8x8")) {
      val f = IndexFactory.build(b, "id", "vec", desc, niter = 2)
      assert(f.search(q, 5).count() == q.count() * 5, desc)
    }
    // a PQ inner at generous budget still reconstructs within the row
    // scale: per-row error bounded well below the unit-scaled range
    val dec = MinMaxCodec.roundtripDf(b, "id", "vec", "PQ8", fp16Coeffs = false)
    val joined = b.join(dec.withColumnRenamed("vec", "dv"), "id")
      .select(aggregate(zip_with(col("vec").cast("array<double>"), col("dv"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x).as("err"))
    assert(joined.agg(max(col("err"))).head().getDouble(0) < 64.0)
    // unsupported inner still throws (the r9 codeSize/build guard)
    intercept[IllegalArgumentException] {
      IndexFactory.codeSize("MinMax,RQ2x4", 64)
    }
  }

  test("reference grammar completions: FlatDedup, PQnp, PQ+, _N norms, LSH[r][t]") {
    // IVF<n>,FlatDedup (IndexIVFFlatDedup): exact-duplicate vectors
    // stored once under the smallest id
    val dup = b.union(b.limit(20).withColumn("id", col("id") + 1000000L))
    val fd = IndexFactory.build(dup, "id", "vec", "IVF4,FlatDedup", niter = 2)
    val ids = fd.search(q, 5, nprobe = 4).select("id").collect().map(_.getLong(0))
    assert(ids.forall(_ < 1000000L), "duplicates must collapse to the canonical id")
    assert(IndexFactory.codeSize("IVF4,FlatDedup", 64) == 256)
    // PQ np suffix (skip polysemous training) builds the same index
    val plain = IndexFactory.build(b, "id", "vec", "PQ8", niter = 2)
      .search(q, 5).select("qid", "id").collect().toSet
    val np = IndexFactory.build(b, "id", "vec", "PQ8np", niter = 2)
      .search(q, 5).select("qid", "id").collect().toSet
    assert(np == plain)
    assert(IndexFactory.codeSize("IVF8,PQ8np", 64) == 8)
    // IVF<n>,PQ<M1>+<M2> (IndexIVFPQR)
    val pqr = IndexFactory.build(b, "id", "vec", "IVF4,PQ4+8", niter = 2)
    assert(pqr.search(q, 5, nprobe = 4).count() == q.count() * 5)
    assert(IndexFactory.codeSize("IVF4,PQ4+8", 64) == 12)
    // AQ stored-norm search types (aq_norm_pattern) — now ALL eight
    // spellings of AdditiveQuantizer.h:58-67
    for (tok <- Seq("RQ2x4_Nfloat", "RQ2x4_Nqint8", "LSQ2x4_Ncqint4",
        "RQ2x4_Nrq2x4", "RQ2x4_Nlsq2x4", "LSQ2x4_Nlsq2x4", "RQ2x4_Nnone")) {
      val f = IndexFactory.build(b, "id", "vec", tok, niter = 2)
      assert(f.search(q, 5).count() == q.count() * 5, tok)
    }
    // storage sizes: nonorm stores NO norm byte, the 2x4 codecs one
    assert(IndexFactory.codeSize("RQ2x4_Nnone", 64) == 1)
    assert(IndexFactory.codeSize("RQ2x4_Nfloat", 64) == 5)
    assert(IndexFactory.codeSize("RQ2x4_Nlsq2x4", 64) == 2)
    assert(IndexFactory.codeSize("RQ2x4_Nrq2x4", 64) == 2)
    // _Nnone is the IP-only LUT mode (ST_LUT_nonorm): its ranking must
    // equal the exact inner-product ranking over the DECODED vectors
    // (<q, x̂> distributes over the codeword sum — no approximation)
    locally {
      val rq = graft.index.Rq.train(b.select(col("vec")), "vec", 2, 16,
        niter = 2, seed = 1234L, beam = 2)
      val dec = b.select(col("id"),
        rq.decodeCol(rq.encodeCol(col("vec"), 2, 1)).as("vec"))
      val want = graft.knn.Knn.knnJoin(q, dec, 5, metric = "ip")
        .select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = IndexFactory.build(b, "id", "vec", "RQ2x4_Nnone", niter = 2)
        .search(q, 5).select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, "_Nnone must rank by exact <q, decode(codes)>")
    }
    // _Nfloat must rank exactly like the ST_norm_float LUT identity
    // d = ||q||^2 - 2<q,x> + ||x||^2 = L2 to the decoded vector
    val viaNorm = IndexFactory.build(b, "id", "vec", "RQ2x4_Nfloat", niter = 2)
      .search(q, 5).select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaDecode = IndexFactory.build(b, "id", "vec", "RQ2x4", niter = 2)
      .search(q, 5).select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaNorm == viaDecode)
    // LSH[r][t] reference spellings (nbits = d)
    for (tok <- Seq("LSH", "LSHr", "LSHt", "LSHrt")) {
      val f = IndexFactory.build(b, "id", "vec", tok)
      assert(f.search(q, 5).count() == q.count() * 5, tok)
      assert(IndexFactory.codeSize(tok, 64) == 8)
    }
  }

  test("reverse_index_factory derives the string back from index structure") {
    // contrib/factory_tools.py:76 — the introspection benchmark
    // tooling uses; the derived string must itself parse and size
    val ivf = graft.index.IvfIndex.build(b, "id", "vec", nlist = 8, niter = 2)
    assert(IndexFactory.reverseIndexFactory(ivf) == "IVF8,Flat")
    val ipq = graft.index.IvfPqIndex.build(b, "id", "vec", nlist = 4,
      m = 8, ksub = 16, niterCoarse = 2, niterPq = 2)
    assert(IndexFactory.reverseIndexFactory(ipq) == "IVF4,PQ8x16")
    val built = IndexFactory.build(b, "id", "vec", "IVF8_HNSW16,PQ8", niter = 2)
    assert(IndexFactory.reverseIndexFactory(built) == "IVF8_HNSW16,PQ8")
    // every derived string re-parses and has a code size
    for (idx <- Seq[Any](ivf, ipq)) {
      val dsc = IndexFactory.reverseIndexFactory(idx)
      assert(IndexFactory.codeSize(dsc, 64) > 0, dsc)
      assert(IndexFactory.build(b, "id", "vec", dsc, niter = 2)
        .search(q, 3).count() == q.count() * 3, dsc)
    }
  }

  test("reverse_index_factory: graph wrappers reverse structurally, chains rebuild") {
    // graph-shard wrappers derive their string from live structure
    // (degree + storage-code fields, the downcast walk) — the
    // spelling normalizes bare HNSW<m> to HNSW<m>,Flat
    assert(IndexFactory.reverseIndexFactory(
      IndexFactory.build(b, "id", "vec", "HNSW16", niter = 2)) == "HNSW16,Flat")
    assert(IndexFactory.reverseIndexFactory(
      IndexFactory.build(b, "id", "vec", "NSG16,PQ8", niter = 2)) == "NSG16,PQ8x16")
    // round-trip: build -> reverse -> rebuild -> IDENTICAL search
    // (PCA and k-means are deterministic under the shared seed), for
    // a transform-prefixed IVF and a graph index over SQ8 codes
    for (desc <- Seq("PCA32,IVF64,Flat", "HNSW32,SQ8")) {
      val a = IndexFactory.build(b, "id", "vec", desc, niter = 2)
      val dsc = IndexFactory.reverseIndexFactory(a)
      val c = IndexFactory.build(b, "id", "vec", dsc, niter = 2)
      val ra = a.search(q, 5, nprobe = 64).select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val rc = c.search(q, 5, nprobe = 64).select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ra == rc, s"$desc -> $dsc must rebuild to an identical index")
    }
  }

  test("reverse_index_factory over PERSISTED indexes: every IndexIO family " +
    "reloads via the kind tag and reverses to its canonical string (r16)") {
    def dir(tag: String) =
      java.nio.file.Files.createTempDirectory(s"revio_$tag").toString
    def check(expect: String, save: String => Unit): Unit = {
      val d = dir(expect.replaceAll("[^A-Za-z0-9]", "_"))
      save(d)
      assert(IndexIO.reverseFactory(spark, d) == expect, s"at $d")
    }
    check("IVF8,Flat", d => graft.io.IndexIO.save(
      graft.index.IvfIndex.build(b, "id", "vec", nlist = 8, niter = 2), d))
    check("SQ8", d => IndexIO.save(
      graft.index.SqIndex.build(b, "id", "vec"), d))
    check("PQ8x16", d => IndexIO.save(
      graft.index.PqIndex.build(b, "id", "vec", m = 8, ksub = 16, niter = 2), d))
    check("IVF4,PQ8x16", d => IndexIO.save(
      graft.index.IvfPqIndex.build(b, "id", "vec",
        nlist = 4, m = 8, ksub = 16, niterCoarse = 2, niterPq = 2), d))
    check("Residual4,PQ8x16", d => IndexIO.save(
      graft.index.TwoLayerIndex.build(b, "id", "vec",
        nlist = 4, m = 8, ksub = 16, niterCoarse = 2, niterPq = 2), d))
    check("Residual2x4,PQ8x16", d => IndexIO.save(
      graft.index.MiqTwoLayerIndex.build(b, "id", "vec",
        mCoarse = 2, nbit = 4, m = 8, ksub = 16,
        niterCoarse = 2, niterPq = 2), d))
    check("IMI2x2,Flat", d => IndexIO.save(
      graft.index.ImiIndex.build(b, "id", "vec", ksub = 4, niter = 2), d))
    check("IMI2x2,PQ8x16", d => IndexIO.save(
      graft.index.ImiPqIndex.build(b, "id", "vec", ksub = 4,
        m = 8, pqKsub = 16, niterCoarse = 2, niterPq = 2), d))
    check("BIVF4", d => IndexIO.save(
      graft.index.BinaryIvfIndex.buildFromVectors(b, "id", "vec",
        nlist = 4, niter = 2), d))
    check("IVF4,SH16x1g", d => IndexIO.save(
      graft.index.IvfSpectralHash.build(b, "id", "vec", nlist = 4,
        nbit = 16, period = 1.0, thresholdType = "global", niter = 2), d))
    check("PQ8x4fs", d => IndexIO.save(
      graft.index.Pq4FastScanIndex.build(b, "id", "vec", m = 8, niter = 2), d))
    check("IVF4,PQ8x4fs", d => IndexIO.save(
      graft.index.IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4,
        m = 8, niterCoarse = 2, niterPq = 2), d))
    check("IVF4,PQ8x4fsr", d => IndexIO.save(
      graft.index.IvfPq4FastScanRIndex.build(b, "id", "vec", nlist = 4,
        m = 8, niterCoarse = 2, niterPq = 2), d))
    check("RQ2x4fs", d => IndexIO.save(
      graft.index.Rq4FastScanIndex.build(b, "id", "vec",
        levels = 2, niter = 2), d))
    check("IVF4,RQ2x4fs", d => IndexIO.save(
      graft.index.IvfRq4FastScanIndex.build(b, "id", "vec",
        nlist = 4, levels = 2, niterCoarse = 2, niter = 2), d))
    check("IVF4,RQ2x4fsr", d => IndexIO.save(
      graft.index.IvfRq4FastScanRIndex.build(b, "id", "vec",
        nlist = 4, levels = 2, niterCoarse = 2, niter = 2), d))
    check("IVF4,SQ8", d => IndexIO.save(
      graft.index.IvfSqIndex.build(b, "id", "vec", nlist = 4,
        niter = 2, byResidual = true, qtype = "SQ8"), d))
    val ivfRq = graft.index.IvfRq.build(b, "id", "vec", nlist = 4,
      levels = 2, k = 16, niterCoarse = 2, niterRq = 2)
    check("IVF4,RQ2x4", d => IndexIO.save(ivfRq, d))
    check("IVF4,RQ2x4_Nnone", d => IndexIO.save(
      new graft.index.IvfRqNormIndex(ivfRq, ivfRq.codes, nonorm = true), d))
    val bcodes = b.select(col("id"), graft.functions.sign_bits(col("vec")).as("code"))
    check("BFlat", d => IndexIO.save(bcodes, d))
    check("BHash6", d => IndexIO.save(
      graft.index.BinaryHashIndex.build(bcodes, b = 6), d))
    check("BHash4x8", d => IndexIO.save(
      new graft.index.BinaryMultiHashIndex(4, 8, bcodes), d))
    val dim = b.select(size(col("vec"))).first().getInt(0)
    val rot = graft.transform.Linear(
      graft.transform.Transforms.randomRotation(dim, 1234L).a)
    val th = Some(Array.tabulate(dim)(i => 0.01 * (i % 5 - 2)))
    for ((r, t, expect) <- Seq(
        (rot, th, "LSHrt"), (rot, None, "LSHr"), (null, None, "LSH"))) {
      val codes = b.select(col("id"),
        graft.index.LshIndex.signBits(r, t, col("vec")).as("code"))
      check(expect, d => IndexIO.save(
        new graft.index.LshIndex(r, t, codes), d))
    }
    check("ZnLattice16x10_8", d => IndexIO.save(
      graft.index.Lattice.build(b, "id", "vec",
        nsq = 16, scaleNbit = 8, r2 = 10), d))
    check("MinMax,SQ8", d => IndexIO.save(
      MinMaxCodec.buildIndex(b, "id", "vec", "SQ8", fp16Coeffs = false,
        niter = 2), d))
    check("MinMaxFP16,SQfp16", d => IndexIO.save(
      MinMaxCodec.buildIndex(b, "id", "vec", "SQfp16", fp16Coeffs = true,
        niter = 2), d))
    check("SQ8,RFlat", d => IndexIO.save(
      graft.index.RefineFlatIndex.build(b, "id", "vec", kFactor = 3), d))
  }

  test("reverse_index_factory refusals: baked trained state that does not " +
    "record its spelling refuses with an explanation, and a kindless " +
    "directory is rejected (r16)") {
    // trained (non-global) spectral-hash thresholds don't record their
    // derivation
    val sh = graft.index.IvfSpectralHash.build(b, "id", "vec", nlist = 4,
      nbit = 16, period = 1.0, thresholdType = "median", niter = 2)
    val d1 = java.nio.file.Files.createTempDirectory("revio_shmed").toString
    IndexIO.save(sh, d1)
    val e1 = intercept[IllegalArgumentException] {
      IndexIO.reverseFactory(spark, d1) }
    assert(e1.getMessage.contains("Thresh_global"))
    // decoded stored norms don't record their codec (only _Nnone reverses)
    val ivfRq = graft.index.IvfRq.build(b, "id", "vec", nlist = 4,
      levels = 2, k = 16, niterCoarse = 2, niterRq = 2)
    val withNq = ivfRq.codes.withColumn("nq", lit(1.0))
    val d2 = java.nio.file.Files.createTempDirectory("revio_rqnorm").toString
    IndexIO.save(
      new graft.index.IvfRqNormIndex(ivfRq, withNq, nonorm = false), d2)
    val e2 = intercept[IllegalArgumentException] {
      IndexIO.reverseFactory(spark, d2) }
    assert(e2.getMessage.contains("_Nnone"))
    // not a saved index
    val d3 = java.nio.file.Files.createTempDirectory("revio_nokind").toString
    val e3 = intercept[IllegalArgumentException] { IndexIO.loadKind(spark, d3) }
    assert(e3.getMessage.contains("kind"))
  }

  test("factory ITQ[<d>], bare RR and L2Norm spelling (r9)") {
    // rotations preserve L2, so exact search under RR / full-dim ITQ
    // must match plain Flat
    val want = Knn.knnJoin(q, b, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (desc <- Seq("RR,Flat", "ITQ,Flat")) {
      val got = IndexFactory.build(b, "id", "vec", desc)
        .search(q, 5).select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, desc)
    }
    assert(IndexFactory.codeSize("ITQ32,Flat", 64) == 128)
    assert(IndexFactory.codeSize("RR,Flat", 64) == 256)
    assert(IndexFactory.codeSize("L2Norm,SQ8", 64) == 64)
    assert(IndexFactory.build(b, "id", "vec", "ITQ16,Flat")
      .search(q, 5).count() == q.count() * 5)
  }

  test("factory Pad<d>: zero-fill remap, L2 results unchanged (r9)") {
    // Pad<d> (index_factory.cpp:216): identity on the first d dims,
    // zeros beyond — L2 distances are unchanged, so exact search must
    // return the same ids as unpadded Flat
    assert(IndexFactory.codeSize("Pad128,Flat", 64) == 512)
    assert(IndexFactory.codeSize("Pad32,Flat", 64) == 256) // never shrinks
    val f = IndexFactory.build(b, "id", "vec", "Pad72,Flat")
    val got = f.search(q, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Knn.knnJoin(q, b, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("factory OPQ<M>_<d> and PCAR<d> transform forms (r9)") {
    // OPQ8_32: dimension-changing OPQ (OPQMatrix(d, M, d_out),
    // index_factory.cpp:211; test_factory.py's OPQ16_64 form)
    assert(IndexFactory.codeSize("OPQ8_32,IVF16,PQ8", 64) == 8)
    assert(IndexFactory.codeSize("OPQ8_32,Flat", 64) == 128)
    assert(IndexFactory.codeSize("PCAR32,Flat", 64) == 128)
    val f = IndexFactory.build(b, "id", "vec", "OPQ8_32,IVF4,PQ8", niter = 2)
    assert(f.search(q, 5, nprobe = 4).count() == q.count() * 5)
    // PCAR<d>: PCA then a random rotation in the reduced space —
    // rotation preserves distances, so exact search results match PCA's
    val pr = IndexFactory.build(b, "id", "vec", "PCAR16,Flat")
    val pc = IndexFactory.build(b, "id", "vec", "PCA16,Flat")
    val got = pr.search(q, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pc.search(q, 5).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("factory graph indexes HNSW16 / NSG16 and ZnLattice codec") {
    // graph shards over Flat storage: generous search pool on this
    // tiny base makes them exact
    val h = IndexFactory.build(b, "id", "vec", "HNSW16")
    val n = IndexFactory.build(b, "id", "vec", "NSG16,Flat")
    val want = Knn.knnJoin(q, b, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotH = h.search(q, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotN = n.search(q, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotH == want, "HNSW16 on tiny base should be exact")
    assert(gotN == want, "NSG16 on tiny base should be exact")
    // ZnLattice16x10_8 on d=64: 16 x (8-bit scale + 8-bit lattice) = 32 bytes
    val z = IndexFactory.build(b, "id", "vec", "ZnLattice16x10_8")
    assert(z.search(q, 3).count() == 15)
    assert(IndexFactory.codeSize("ZnLattice16x10_8", 64) == 32)
    assert(IndexFactory.codeSize("HNSW16", 64) == 256)
    assert(IndexFactory.codeSize("NSG16", 64) == 256)
    // HNSW over SQ8 code storage (IndexHNSWSQ): generous ef makes it
    // equal the flat SQ8 ADC scan on this tiny base
    val hsq = IndexFactory.build(b, "id", "vec", "HNSW16,SQ8")
    val wantSq = graft.index.SqIndex.build(b, "id", "vec").search(q, 3)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSq = hsq.search(q, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSq == wantSq, "HNSW16,SQ8 on tiny base should equal flat SQ8")
    assert(IndexFactory.codeSize("HNSW16,SQ8", 64) == 64)
    // NSG over SQ8 code storage (IndexNSGSQ): same degenerate contract
    val nsq = IndexFactory.build(b, "id", "vec", "NSG16,SQ8")
    val gotNsq = nsq.search(q, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotNsq == wantSq, "NSG16,SQ8 on tiny base should equal flat SQ8")
    assert(IndexFactory.codeSize("NSG16,SQ8", 64) == 64)
    // HNSW over PQ code storage (IndexHNSWPQ): degenerate vs flat PQ ADC
    val hpq = IndexFactory.build(b, "id", "vec", "HNSW16,PQ8")
    val wantPq = {
      val idx = graft.index.PqIndex.build(b, "id", "vec", m = 8, ksub = 16,
        niter = 4, seed = 1234L)
      idx.search(q, 3).select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val gotPq = hpq.search(q, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPq == wantPq, "HNSW16,PQ8 on tiny base should equal flat PQ ADC")
    assert(IndexFactory.codeSize("HNSW16,PQ8", 64) == 8)
    // NSG over PQ code storage (IndexNSGPQ): same degenerate contract
    val npq = IndexFactory.build(b, "id", "vec", "NSG16,PQ8")
    val gotNpq = npq.search(q, 3).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotNpq == wantPq, "NSG16,PQ8 on tiny base should equal flat PQ ADC")
    assert(IndexFactory.codeSize("NSG16,PQ8", 64) == 8)
  }

  test("factory PCA16,IVF4,Flat and L2norm,SQ8 build and search") {
    val f1 = IndexFactory.build(b, "id", "vec", "PCA16,IVF4,Flat")
    assert(f1.search(q, 3, nprobe = 4).count() == 15)
    val f2 = IndexFactory.build(b, "id", "vec", "L2norm,SQ8")
    assert(f2.search(q, 3).count() == 15)
  }

  test("factory IVF8,SQ8 and IVF4,PQ8,RFlat build and search") {
    val f1 = IndexFactory.build(b, "id", "vec", "IVF8,SQ8")
    assert(f1.search(q, 3, nprobe = 8).count() == 15)
    val f2 = IndexFactory.build(b, "id", "vec", "IVF4,PQ8,RFlat")
    val res = f2.search(q, 3, nprobe = 4)
    assert(res.count() == 15)
    // refined distances must be exact L2 of the true vectors
    val exact = Knn.knnJoin(q, b, 3).select("qid", "id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    res.select("qid", "id", "dist").collect().foreach { r =>
      exact.get((r.getLong(0), r.getLong(1))).foreach { d =>
        assert(math.abs(d - r.getDouble(2)) < 1e-9)
      }
    }
  }

  test("codeSize and description introspection") {
    assert(IndexFactory.codeSize("Flat", 64) == 256)
    assert(IndexFactory.codeSize("SQ8", 64) == 64)
    assert(IndexFactory.codeSize("SQ4", 64) == 32)
    assert(IndexFactory.codeSize("FP16", 64) == 128)
    assert(IndexFactory.codeSize("SQfp16", 64) == 128)
    assert(IndexFactory.codeSize("SQ6", 64) == 48)
    assert(IndexFactory.codeSize("IVF16,PQ8", 64) == 8)
    assert(IndexFactory.codeSize("PQ8x4fs", 64) == 4)
    assert(IndexFactory.codeSize("IVF16,PQ8x4fs_64", 64) == 4)
    assert(IndexFactory.codeSize("RQ2x4fs", 64) == 2)
    assert(IndexFactory.codeSize("PCA32,IVF16,Flat", 64) == 128)
    // IDMap / IDMap2 prefixes are accepted no-ops (ids are native)
    assert(IndexFactory.codeSize("IDMap,IVF16,Flat", 64) == 256)
    assert(IndexFactory.build(b, "id", "vec", "IDMap2,IVF4,Flat")
      .search(q, 5, nprobe = 4).count() == q.count() * 5)
    val f = IndexFactory.build(b, "id", "vec", "IVF8,Flat")
    assert(f.description == "IVF8,Flat")
  }

  test("factory rejects an unknown token with the offending tail in the message") {
    val e = intercept[IllegalArgumentException] {
      IndexFactory.build(b, "id", "vec", "NoSuchIndex42")
    }
    assert(e.getMessage.contains("NoSuchIndex42"))
  }
}
