package graft.io

import graft.SparkTestBase
import graft.index.{PqIndex, SqIndex}
import graft.transform._
import org.apache.spark.sql.functions._

class IndexIOSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def q = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def results(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("SQ index save/load round-trip preserves search results") {
    val idx = SqIndex.build(b, "id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("sqio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.SqIndex](spark, dir)
    assert(results(loaded.search(q, 5)) == results(idx.search(q, 5)))
  }

  test("SQ save/load round-trips every quantizer width, including rangeless fp16") {
    for (qtype <- Seq("SQ4", "SQ6", "fp16")) {
      val idx = SqIndex.build(b, "id", "vec", qtype = qtype)
      val dir = java.nio.file.Files.createTempDirectory(s"sqio_$qtype").toString
      IndexIO.save(idx, dir)
      val loaded = IndexIO.loadAs[graft.index.SqIndex](spark, dir)
      assert(loaded.qtype == qtype, s"qtype lost: ${loaded.qtype}")
      assert(results(loaded.search(q, 5)) == results(idx.search(q, 5)), qtype)
    }
  }

  test("PQ index save/load round-trip preserves search results") {
    val idx = PqIndex.build(b, "id", "vec", m = 8, ksub = 16, niter = 3)
    val dir = java.nio.file.Files.createTempDirectory("pqio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.PqIndex](spark, dir)
    assert(results(loaded.search(q, 5)) == results(idx.search(q, 5)))
    assert(loaded.model.ksub == 16 && loaded.model.m == 8)
  }

  /** Every stored file of a clustered frame is sorted by its cluster
    * column `by`, and no list spans two files. */
  private def assertListSorted(dir: String, by: String = "list_no"): Unit = {
    val files = IndexLayoutFixtures.storedLists(spark, dir, by)
    assert(files.nonEmpty && files.forall(_.nonEmpty), s"$dir: no data files")
    assert(IndexLayoutFixtures.clustered(files), s"$dir: not clustered by $by: $files")
  }

  test("IVFPQ index save/load round-trip preserves search results and pruning layout") {
    val idx = graft.index.IvfPqIndex.build(b, "id", "vec",
      nlist = 4, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.IvfPqIndex](spark, dir)
    assert(results(loaded.search(q, 5, nprobe = 4)) ==
      results(idx.search(q, 5, nprobe = 4)))
    // list_no-sorted on disk: a probed-list filter skips row groups
    // and pages after the reload
    assertListSorted(s"$dir/codes")
  }

  test("fast-scan save/load: PQ4fs, IVF-PQ4fs (partitioned) and the rescaling " +
    "RQ4fs all round-trip bit-identically, including the trained norm_scale") {
    val fs = graft.index.Pq4FastScanIndex.build(b, "id", "vec", m = 8, niter = 3)
    val d1 = java.nio.file.Files.createTempDirectory("pq4fsio").toString
    IndexIO.save(fs, d1)
    assert(results(IndexIO.loadAs[graft.index.Pq4FastScanIndex](spark, d1).search(q, 5)) ==
      results(fs.search(q, 5)))
    val ivf = graft.index.IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4,
      m = 8, niterCoarse = 2, niterPq = 3)
    val d2 = java.nio.file.Files.createTempDirectory("ivfpq4fsio").toString
    IndexIO.save(ivf, d2)
    val ivfLoaded = IndexIO.loadAs[graft.index.IvfPq4FastScanIndex](spark, d2)
    assert(results(ivfLoaded.search(q, 5, nprobe = 2)) ==
      results(ivf.search(q, 5, nprobe = 2)))
    // adversarial magnitudes -> norm_scale > 1; the reload must carry it
    // (a lost scale would quantize UNdivided norm columns and scan
    // unscaled — different integer distances)
    val adv = b.select(col("id"), transform(col("vec"), x =>
      x * (lit(1.0f) + pmod(col("id"), lit(4)).cast("float") * lit(5.0f))).as("vec"))
    val rs = graft.index.Rq4FastScanIndex.build(adv, "id", "vec", levels = 2, niter = 3)
    assert(rs.normScale > 1)
    val d3 = java.nio.file.Files.createTempDirectory("rq4fsio").toString
    IndexIO.save(rs, d3)
    val rsLoaded = IndexIO.loadAs[graft.index.Rq4FastScanIndex](spark, d3)
    assert(rsLoaded.normScale == rs.normScale, "trained norm_scale lost")
    assert(results(rsLoaded.search(q, 5)) == results(rs.search(q, 5)))
  }

  test("IVF AQ fast-scan save/load: both residual forms round-trip " +
    "bit-identically; the by_residual meta flag guards cross-loading") {
    val ivf = graft.index.IvfRq4FastScanIndex.build(b, "id", "vec",
      nlist = 4, levels = 2, niterCoarse = 2, niter = 3)
    val d1 = java.nio.file.Files.createTempDirectory("ivfrq4fsio").toString
    IndexIO.save(ivf, d1)
    assert(results(IndexIO.loadAs[graft.index.IvfRq4FastScanIndex](spark, d1)
      .search(q, 5, nprobe = 2)) ==
      results(ivf.search(q, 5, nprobe = 2)))
    val ivfr = graft.index.IvfRq4FastScanRIndex.build(b, "id", "vec",
      nlist = 4, levels = 2, niterCoarse = 2, niter = 3)
    val d2 = java.nio.file.Files.createTempDirectory("ivfrq4fsrio").toString
    IndexIO.save(ivfr, d2)
    assert(results(IndexIO.loadAs[graft.index.IvfRq4FastScanRIndex](spark, d2)
      .search(q, 5, nprobe = 2)) ==
      results(ivfr.search(q, 5, nprobe = 2)))
    // loading a residual store through the non-residual entry (or vice
    // versa) would silently score residual codes against raw-vector
    // LUTs — the meta flag makes it loud
    intercept[IllegalArgumentException](IndexIO.loadAs[graft.index.IvfRq4FastScanIndex](spark, d2))
    intercept[IllegalArgumentException](IndexIO.loadAs[graft.index.IvfRq4FastScanRIndex](spark, d1))
    val pqr = graft.index.IvfPq4FastScanRIndex.build(b, "id", "vec",
      nlist = 4, m = 8, niterCoarse = 2, niterPq = 3)
    val d3 = java.nio.file.Files.createTempDirectory("ivfpq4fsrio").toString
    IndexIO.save(pqr, d3)
    val loaded = IndexIO.loadAs[graft.index.IvfPq4FastScanRIndex](spark, d3)
    def r4set(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(r4set(loaded.search(q, 5, nprobe = 2)) ==
      r4set(pqr.search(q, 5, nprobe = 2)))
    pqr.close(); loaded.close(); ivfr.close()
  }

  test("Index2Layer save/load round-trip preserves reconstruction") {
    val idx = graft.index.TwoLayerIndex.build(b, "id", "vec",
      nlist = 4, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    val dir = java.nio.file.Files.createTempDirectory("twolayerio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.TwoLayerIndex](spark, dir)
    def recon(i: graft.index.TwoLayerIndex) =
      i.reconstruct.select(col("id"),
        round(element_at(col("vec"), 1).cast("double"), 5).as("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(recon(loaded) == recon(idx))
  }

  test("Binary IVF save/load round-trip preserves search results") {
    val idx = graft.index.BinaryIvfIndex.buildFromVectors(b, "id", "vec",
      nlist = 4, niter = 3)
    val dir = java.nio.file.Files.createTempDirectory("bivfio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.BinaryIvfIndex](spark, dir)
    val qc = q.select(col("qid"), graft.functions.sign_bits(col("qvec")).as("qcode"))
    assert(results(loaded.search(qc, 5, nprobe = 4)) ==
      results(idx.search(qc, 5, nprobe = 4)))
  }

  test("IMI save/load round-trip preserves search results") {
    val idx = graft.index.ImiIndex.build(b, "id", "vec", ksub = 4, niter = 3)
    val dir = java.nio.file.Files.createTempDirectory("imiio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.ImiIndex](spark, dir)
    assert(results(loaded.search(q, 5, nprobe = loaded.nlist)) ==
      results(idx.search(q, 5, nprobe = idx.nlist)))
  }

  test("IMI+PQ save/load round-trip preserves search results (write_index " +
      "of the SIFT1B flagship composition)") {
    val idx = graft.index.ImiPqIndex.build(b, "id", "vec", ksub = 4,
      m = 8, pqKsub = 16, niterCoarse = 3, niterPq = 3)
    val dir = java.nio.file.Files.createTempDirectory("imipqio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.ImiPqIndex](spark, dir)
    assert(loaded.ksub == idx.ksub)
    assert(results(loaded.search(q, 5, nprobe = 4)) ==
      results(idx.search(q, 5, nprobe = 4)))
    // the ht/max_codes knobs survive the round-trip too
    assert(results(loaded.search(q, 5, nprobe = 4, ht = Some(64),
      maxCodes = Some(1 << 20))) == results(idx.search(q, 5, nprobe = 4)))
  }

  test("Spectral-hash index save/load round-trip preserves search results") {
    val idx = graft.index.IvfSpectralHash.build(b, "id", "vec",
      nlist = 4, nbit = 16, period = 1.0, thresholdType = "median", niter = 2)
    val dir = java.nio.file.Files.createTempDirectory("shio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.IvfSpectralHashIndex](spark, dir)
    assert(results(loaded.search(q, 5, nprobe = 4)) ==
      results(idx.search(q, 5, nprobe = 4)))
    assert(loaded.nbit == 16 && loaded.period == 1.0)
  }

  test("RQ model save/load round-trip reproduces the decode exactly") {
    val m = graft.index.Rq.train(b, "vec", levels = 2, k = 8, niter = 3)
    val dir = java.nio.file.Files.createTempDirectory("rqio").toString
    Parts.rq.write(spark, m, dir)
    val loaded = Parts.rq.read(spark, dir)
    def rt(mm: graft.index.RqModel) =
      b.select(col("id"), round(element_at(mm.roundtripCol(col("vec")), 1)
        .cast("double"), 6).as("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rt(loaded) == rt(m))
  }

  test("merge_ondisk analog: two saved IVF indexes merge into one on-disk store") {
    // contrib/ondisk.py:13 merge_ondisk — here: load both, mergeFrom
    // (same trained quantizer), save; the merged store answers like an
    // index built over the union.
    import org.apache.spark.sql.graft.shim
    val b1 = b.filter(col("id") % 2 === 0)
    val b2 = b.filter(col("id") % 2 === 1)
    val idx1 = graft.index.IvfIndex.build(b1, "id", "vec", nlist = 4, niter = 3)
    // shard 2 shares the trained quantizer (merge's precondition)
    def inv(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("_a", shim.col(
        graft.core.NearestCentroid(shim.expr(col("vec")), idx1.centroids)))
      .select(col("id"), col("vec"), col("_a.list_no").as("list_no"))
    val idx2 = new graft.index.IvfIndex(idx1.d, idx1.metric, idx1.nlist,
      idx1.centroids, inv(b2))
    val d1 = java.nio.file.Files.createTempDirectory("ivfm1").toString
    val d2 = java.nio.file.Files.createTempDirectory("ivfm2").toString
    val dm = java.nio.file.Files.createTempDirectory("ivfmerged").toString
    idx1.save(d1); idx2.save(d2)
    val merged = graft.io.IndexIO.loadAs[graft.index.IvfIndex](spark, d1)
      .mergeFrom(graft.io.IndexIO.loadAs[graft.index.IvfIndex](spark, d2))
    merged.save(dm)
    val got = results(graft.io.IndexIO.loadAs[graft.index.IvfIndex](spark, dm)
      .search(q, 5, nprobe = 4))
    val want = results(new graft.index.IvfIndex(idx1.d, idx1.metric,
      idx1.nlist, idx1.centroids, inv(b)).search(q, 5, nprobe = 4))
    assert(got == want)
  }

  test("IVF-SQ save/load round-trips both residual forms and every width, " +
    "keeping the list_no pruning layout") {
    for ((byRes, qtype) <- Seq((true, "SQ8"), (false, "SQ4"), (true, "fp16"))) {
      val idx = graft.index.IvfSqIndex.build(b, "id", "vec", nlist = 4,
        niter = 3, byResidual = byRes, qtype = qtype)
      val dir = java.nio.file.Files.createTempDirectory(s"ivfsqio_$qtype").toString
      IndexIO.save(idx, dir)
      val loaded = IndexIO.loadAs[graft.index.IvfSqIndex](spark, dir)
      assert(loaded.qtype == qtype && loaded.byResidual == byRes,
        s"meta lost: ${loaded.qtype}/${loaded.byResidual}")
      assert(results(loaded.search(q, 5, nprobe = 2)) ==
        results(idx.search(q, 5, nprobe = 2)), s"$qtype byRes=$byRes")
      assertListSorted(s"$dir/codes")
      idx.close(); loaded.close()
    }
  }

  test("IVF-RQ (AQ decompress form) save/load round-trip preserves search " +
    "and reconstruction") {
    val idx = graft.index.IvfRq.build(b, "id", "vec", nlist = 4,
      levels = 2, k = 16, niterCoarse = 3, niterRq = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivfrqio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.IvfRqIndex](spark, dir)
    assert(results(loaded.search(q, 5, nprobe = 2)) ==
      results(idx.search(q, 5, nprobe = 2)))
    def recon(i: graft.index.IvfRqIndex) =
      i.reconstruct.select(col("id"),
        round(element_at(col("vec"), 1).cast("double"), 5).as("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(recon(loaded) == recon(idx))
  }

  test("IVF-RQ _N<norm> LUT form save/load: the decoded stored norm and the " +
    "nonorm flag survive; a reloaded scan is bit-identical") {
    val idx = graft.index.IvfRq.build(b, "id", "vec", nlist = 4,
      levels = 2, k = 16, niterCoarse = 3, niterRq = 3)
    val withN = idx.codes.withColumn("normsq", aggregate(
      idx.model.decodeCol(col("code")).cast("array<double>"),
      lit(0.0), (a, x) => a + x * x))
    // qint8 stored-norm codec, decoded at save-build time (the factory
    // route's shape): the codec state is baked into nq
    val (nmin, nmax) = graft.index.RqNorms.range(withN, "normsq")
    val codesNq = withN.withColumn("nq",
      graft.index.RqNorms.qintDecode(col("normsq"), 256, nmin, nmax))
      .drop("normsq")
    val norm = new graft.index.IvfRqNormIndex(idx, codesNq, nonorm = false)
    val d1 = java.nio.file.Files.createTempDirectory("ivfrqnormio").toString
    IndexIO.save(norm, d1)
    val loaded = IndexIO.loadAs[graft.index.IvfRqNormIndex](spark, d1)
    assert(!loaded.nonorm)
    assert(results(loaded.search(q, 5, nprobe = 4)) ==
      results(norm.search(q, 5, nprobe = 4)))
    // nonorm form: no nq column at all
    val non = new graft.index.IvfRqNormIndex(idx, idx.codes, nonorm = true)
    val d2 = java.nio.file.Files.createTempDirectory("ivfrqnonormio").toString
    IndexIO.save(non, d2)
    val nonLoaded = IndexIO.loadAs[graft.index.IvfRqNormIndex](spark, d2)
    assert(nonLoaded.nonorm)
    assert(results(nonLoaded.search(q, 5, nprobe = 4)) ==
      results(non.search(q, 5, nprobe = 4)))
  }

  test("binary flat save/load round-trips the packed codes and validates the " +
    "stored width") {
    val codes = b.select(col("id"), graft.functions.sign_bits(col("vec")).as("code"))
    val dir = java.nio.file.Files.createTempDirectory("bflatio").toString
    IndexIO.save(codes, dir)
    val loaded = IndexIO.loadAs[org.apache.spark.sql.DataFrame](spark, dir)
    val qc = q.select(col("qid"), graft.functions.sign_bits(col("qvec")).as("qcode"))
    assert(results(graft.index.BinaryFlat.knnJoin(qc, loaded, 5)) ==
      results(graft.index.BinaryFlat.knnJoin(qc, codes, 5)))
  }

  test("binary flat save/load round-trips an EMPTY index (ntotal=0, the " +
    "write_index_binary convention) instead of throwing") {
    val codes = b.select(col("id"), graft.functions.sign_bits(col("vec")).as("code"))
      .filter(lit(false))
    val dir = java.nio.file.Files.createTempDirectory("bflatio_empty").toString
    IndexIO.save(codes, dir)
    val loaded = IndexIO.loadAs[org.apache.spark.sql.DataFrame](spark, dir)
    assert(loaded.count() == 0)
  }

  test("IVF-SQ load fails FAST with the path in the message when a non-fp16 " +
    "index is missing its trained range (truncated state, read_index " +
    "convention) — and fp16 still tolerates the rangeless form") {
    val idx = graft.index.IvfSqIndex.build(b, "id", "vec", nlist = 4,
      niter = 3, byResidual = true, qtype = "SQ8")
    val dir = java.nio.file.Files.createTempDirectory("ivfsqio_trunc").toString
    IndexIO.save(idx, dir)
    // truncate: drop the trained range dataset
    val rangeDir = new java.io.File(s"$dir/range")
    rangeDir.listFiles().foreach(_.delete()); rangeDir.delete()
    val ex = intercept[Exception] { IndexIO.loadAs[graft.index.IvfSqIndex](spark, dir) }
    assert(ex.getMessage != null, "load of a truncated SQ8 index must fail")
    idx.close()
  }

  test("binary hash save/load keeps b, the bucket keys and the bucket-pruned " +
    "layout; multi-hash keeps (nhash, b)") {
    val codes = b.select(col("id"), graft.functions.sign_bits(col("vec")).as("code"))
    val idx = graft.index.BinaryHashIndex.build(codes, b = 6)
    val d1 = java.nio.file.Files.createTempDirectory("bhashio").toString
    IndexIO.save(idx, d1)
    val loaded = IndexIO.loadAs[graft.index.BinaryHashIndex](spark, d1)
    assert(loaded.b == 6)
    val qc = q.select(col("qid"), graft.functions.sign_bits(col("qvec")).as("qcode"))
    assert(results(loaded.search(qc, 5)) == results(idx.search(qc, 5)))
    assertListSorted(s"$d1/codes", "bucket")
    val mh = new graft.index.BinaryMultiHashIndex(4, 8, codes)
    val d2 = java.nio.file.Files.createTempDirectory("bmhio").toString
    IndexIO.save(mh, d2)
    val mhLoaded = IndexIO.loadAs[graft.index.BinaryMultiHashIndex](spark, d2)
    assert(mhLoaded.nhash == 4 && mhLoaded.b == 8)
    assert(results(mhLoaded.search(qc, 5)) == results(mh.search(qc, 5)))
  }

  test("LSH save/load round-trips all three trained-state shapes " +
    "(rotation+thresholds, rotation only, neither)") {
    val d = b.select(size(col("vec"))).first().getInt(0)
    val rot = Linear(Transforms.randomRotation(d, 1234L).a)
    val th = Some(Array.tabulate(d)(i => 0.01 * (i % 5 - 2)))
    for ((r, t) <- Seq((rot, th), (rot, None), (null, None))) {
      val codes = b.select(col("id"),
        graft.index.LshIndex.signBits(r, t, col("vec")).as("code"))
      val idx = new graft.index.LshIndex(r, t, codes)
      val dir = java.nio.file.Files.createTempDirectory("lshio").toString
      IndexIO.save(idx, dir)
      val loaded = IndexIO.loadAs[graft.index.LshIndex](spark, dir)
      assert((loaded.rot == null) == (r == null))
      assert(loaded.thresholds.isDefined == t.isDefined)
      assert(results(loaded.search(q, 5)) == results(idx.search(q, 5)),
        s"rot=${r != null} th=${t.isDefined}")
    }
  }

  test("ZnLattice save/load round-trips the codec parameters and codes; the " +
    "reloaded decode is bit-identical") {
    val idx = graft.index.Lattice.build(b, "id", "vec",
      nsq = 16, scaleNbit = 8, r2 = 10)
    val dir = java.nio.file.Files.createTempDirectory("latio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.LatticeIndex](spark, dir)
    assert(loaded.codec.d == idx.codec.d && loaded.codec.nsq == 16 &&
      loaded.codec.scaleNbit == 8 && loaded.codec.r2 == 10)
    assert(loaded.codec.mins.sameElements(idx.codec.mins))
    def recon(i: graft.index.LatticeIndex) =
      i.reconstruct.select(col("id"), col("vec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(recon(loaded) == recon(idx))
  }

  test("MinMax wrapper save/load: buildIndex.reconstruct equals roundtripDf, " +
    "and a reload reproduces it for SQ8, SQfp16 (fp16 coeffs) and PQ inners") {
    def rt(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), round(element_at(col("vec"), 1), 5).as("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    for ((inner, fp16c) <- Seq(("SQ8", false), ("SQfp16", true), ("PQ8", false))) {
      val direct = graft.index.MinMaxCodec.roundtripDf(b, "id", "vec",
        inner, fp16c, niter = 3)
      val idx = graft.index.MinMaxCodec.buildIndex(b, "id", "vec",
        inner, fp16c, niter = 3)
      assert(rt(idx.reconstruct) == rt(direct), s"$inner buildIndex drifted")
      val dir = java.nio.file.Files.createTempDirectory(s"mmio_$inner").toString
      IndexIO.save(idx, dir)
      val loaded = IndexIO.loadAs[graft.index.MinMaxIndex](spark, dir)
      assert(loaded.inner == inner && loaded.fp16Coeffs == fp16c)
      assert(rt(loaded.reconstruct) == rt(direct), s"$inner reload drifted")
    }
  }

  test("RefineFlat (SQ coarse + exact re-rank) save/load round-trip preserves " +
    "search results and k_factor") {
    val idx = graft.index.RefineFlatIndex.build(b, "id", "vec", kFactor = 3)
    val dir = java.nio.file.Files.createTempDirectory("refineio").toString
    IndexIO.save(idx, dir)
    val loaded = IndexIO.loadAs[graft.index.RefineFlatIndex](spark, dir)
    assert(loaded.kFactor == 3 && loaded.metric == "l2sq")
    assert(loaded.inner.qtype == "SQ8")
    assert(results(loaded.search(q, 5)) == results(idx.search(q, 5)))
  }

  test("transform chain save/load round-trip applies identically") {
    val chain = Chain(Seq(
      Centering.train(emb, "embedding"),
      Transforms.pca(emb, "embedding", 8),
      Normalization))
    val dir = java.nio.file.Files.createTempDirectory("tio").toString + "/t"
    Parts.transform.write(spark, chain, dir)
    val loaded = Parts.transform.read(spark, dir)
    val a = emb.limit(20).select(chain.applyCol(col("embedding")).as("y")).collect()
    val c = emb.limit(20).select(loaded.applyCol(col("embedding")).as("y")).collect()
    a.zip(c).foreach { case (x, y) =>
      val xs = x.getSeq[Float](0); val ys = y.getSeq[Float](0)
      xs.zip(ys).foreach { case (u, v) => assert(math.abs(u - v) < 1e-6) }
    }
  }

  test("nested transform chains round-trip: steps keep their order and none " +
    "is dropped") {
    val d = emb.select(size(col("embedding"))).first().getInt(0)
    val a = Centering(Array.tabulate(d)(i => 0.01f * i))
    val b = Linear(Transforms.randomRotation(d, 7L).a)
    val c = Remap(Array.tabulate(d)(i => d - 1 - i))
    val e = Linear(Array.tabulate(4, d)((r, i) => if (i % 4 == r) 1f else 0f),
      Array(0.5f, -0.5f, 0.25f, 0f))
    for (chain <- Seq(Chain(Seq(a, Chain(Seq(b, c)), e)), Chain(Seq(Chain(Seq(a, b)), c)))) {
      val dir = java.nio.file.Files.createTempDirectory("tnest").toString + "/t"
      Parts.transform.write(spark, chain, dir)
      val loaded = Parts.transform.read(spark, dir)
      val want = emb.limit(20).select(chain.applyCol(col("embedding"))).collect()
      val got = emb.limit(20).select(loaded.applyCol(col("embedding"))).collect()
      assert(got.map(_.getSeq[Float](0)).toSeq == want.map(_.getSeq[Float](0)).toSeq,
        s"$chain reloaded as $loaded")
    }
  }

  test("SQ: a save without its qtype sidecar (the pre-r7 layout) loads as SQ8 " +
    "and searches identically; a non-fp16 save without its range fails fast") {
    val idx = SqIndex.build(b, "id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("sqio_legacy").toString
    IndexIO.save(idx, dir)
    graft.streaming.StreamingIngest.rmTree(java.nio.file.Paths.get(s"$dir/qtype"))
    val loaded = IndexIO.loadAs[SqIndex](spark, dir)
    assert(loaded.qtype == "SQ8")
    assert(results(loaded.search(q, 5)) == results(idx.search(q, 5)))
    val sq4 = SqIndex.build(b, "id", "vec", qtype = "SQ4")
    val d4 = java.nio.file.Files.createTempDirectory("sqio_trunc").toString
    IndexIO.save(sq4, d4)
    graft.streaming.StreamingIngest.rmTree(java.nio.file.Paths.get(s"$d4/meta"))
    val ex = intercept[IllegalArgumentException](IndexIO.loadAs[SqIndex](spark, d4))
    assert(ex.getMessage.contains(s"$d4/meta"), ex.getMessage)
  }

  test("the kind tag is written last: a save that fails part-way over an " +
    "earlier save leaves a directory that no load accepts") {
    val a = graft.index.IvfPqIndex.build(b, "id", "vec",
      nlist = 4, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    val dir = java.nio.file.Files.createTempDirectory("kindlast").toString
    IndexIO.save(a, dir)
    assert(IndexIO.load(spark, dir).isInstanceOf[graft.index.IvfPqIndex])
    // one codebook row missing: the save fails while writing its sidecars
    val books = a.model.codebooks.map(_.clone())
    books(0)(0) = null
    val broken = new graft.index.IvfPqIndex(a.nlist, a.centroids,
      a.model.copy(codebooks = books), a.codes)
    intercept[NullPointerException](IndexIO.save(broken, dir))
    val ex = intercept[IllegalArgumentException](IndexIO.load(spark, dir))
    assert(ex.getMessage.contains("no kind tag"), ex.getMessage)
  }
}
