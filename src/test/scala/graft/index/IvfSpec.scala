package graft.index

import graft.SparkTestBase
import graft.knn.Knn
import graft.cluster.KMeans
import org.apache.spark.sql.functions._

class IvfSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def q = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val idx = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 4)

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("nprobe = nlist reproduces exact brute-force kNN") {
    val exact = resultSet(Knn.knnJoin(q, b, 10))
    val ivf = resultSet(idx.search(q, 10, nprobe = 8))
    assert(ivf == exact)
  }

  test("skewed corpus: one hot list holds ~half the rows, search stays exact " +
    "at full probe (the ivf_search_skewed shape)") {
    // same transform as the catalog fixture: half the vectors collapse
    // to a tight cluster near the origin
    val skew = b.select(col("id"),
      when(pmod(col("id"), lit(2)) === 0,
        transform(col("vec"), x => x * lit(0.001f)))
        .otherwise(col("vec")).as("vec"))
    val sidx = IvfIndex.build(skew, "id", "vec", nlist = 8, niter = 4)
    val sizes = sidx.invlists.groupBy("list_no").count()
      .collect().map(_.getLong(1))
    val n = sizes.sum.toDouble
    val imbalance = sizes.length * sizes.map(s => s.toDouble * s).sum / (n * n)
    val hotFrac = sizes.max / n
    assert(hotFrac >= 0.4, s"hot list only $hotFrac of rows")
    assert(imbalance > 2.0, s"imbalance_factor $imbalance not skewed")
    // full-probe search over the skewed lists is still the exact kNN
    val sq = skew.filter(col("id") < 15)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = resultSet(Knn.knnJoin(sq, skew, 10))
    assert(resultSet(sidx.search(sq, 10, nprobe = 8)) == exact)
  }

  test("HNSW coarse quantizer: exact-degenerate efSearch reproduces exact probes") {
    val exact = resultSet(idx.search(q, 10, nprobe = 4))
    val viaHnsw = resultSet(idx.search(q, 10, nprobe = 4, coarse = Some(Probes.HnswCoarse(1024))))
    assert(viaHnsw == exact,
      "efSearch >= nlist must select the exact probe set and thus the exact result")
  }

  test("HNSW coarse quantizer: approximate regime keeps recall (and factory token)") {
    val exact = resultSet(idx.search(q, 10, nprobe = 8))
      .map { case (a, _, c) => (a, c) }
    val approx = resultSet(idx.search(q, 10, nprobe = 8, coarse = Some(Probes.HnswCoarse(8))))
      .map { case (a, _, c) => (a, c) }
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall < 0.9 at efSearch=8 over 8 lists")
    // factory token: same training params as idx, nprobe = nlist with
    // efSearch >= nlist => must reproduce the exact IVF result
    val f = IndexFactory.build(b, "id", "vec", "IVF8_HNSW16,Flat")
    assert(resultSet(f.search(q, 10, nprobe = 8)) ==
      resultSet(idx.search(q, 10, nprobe = 8)))
  }

  test("spherical / int_centroids post-processing (Clustering.cpp:65-74)") {
    val sph = KMeans.fit(b, "vec", KMeans.Params(k = 4, niter = 3, spherical = true))
    sph.centroids.foreach { c =>
      val n = math.sqrt(c.map(x => x * x.toDouble).sum)
      assert(math.abs(n - 1.0) < 1e-5, s"centroid norm $n != 1")
    }
    val ic = KMeans.fit(b, "vec", KMeans.Params(k = 4, niter = 3, intCentroids = true))
    ic.centroids.foreach(_.foreach(x => assert(x == math.round(x).toFloat)))
  }

  test("train_encoded (Clustering.cpp:271): codes-train == decode-then-train") {
    // k-means over SQ8-encoded vectors must produce EXACTLY the model
    // that training on the pre-decoded float vectors produces — the
    // only difference is where the decode runs (inside each
    // iteration's scan vs materialized), never the arithmetic
    import org.apache.spark.sql.graft.shim
    val (mins, vdiff) = SqIndex.trainRange(b, "vec")
    val codes = b.select(col("id"),
      shim.col(SqVariant.encode("SQ8", shim.expr(col("vec")), mins, vdiff)).as("code"))
    def dec(c: org.apache.spark.sql.Column) =
      shim.col(SqVariant.decode("SQ8", shim.expr(c), mins, vdiff)).cast("array<float>")
    val p = KMeans.Params(k = 4, niter = 3)
    val enc = KMeans.fitEncoded(codes, "code", dec, p)
    val plain = KMeans.fit(codes.select(dec(col("code")).as("vec")), "vec", p)
    assert(enc.centroids.map(_.toSeq).toSeq == plain.centroids.map(_.toSeq).toSeq)
    assert(enc.objective == plain.objective)
    assert(enc.sizes.toSeq == plain.sizes.toSeq)
  }

  test("kmeans objective decreases and covers all points") {
    val m = KMeans.fit(b, "vec", KMeans.Params(k = 8, niter = 5))
    assert(m.sizes.sum == b.count())
    val objs = m.iterationObjectives
    assert(objs.last <= objs.head)
    assert(m.imbalanceFactor >= 1.0 && m.imbalanceFactor < 8.0)
  }

  test("nprobe < nlist keeps reasonable recall (faiss test_ivf_kmeans style)") {
    val exact = resultSet(Knn.knnJoin(q, b, 10))
    val approx = resultSet(idx.search(q, 10, nprobe = 2))
    // recall on (qid, id) pairs ignoring rank
    val e = exact.map { case (a, _, c) => (a, c) }
    val a = approx.map { case (x, _, z) => (x, z) }
    val recall = e.intersect(a).size.toDouble / e.size
    assert(recall > 0.2, s"recall $recall") // reference asserts > 0.2 (test_index_accuracy.py:47)
  }

  test("save/load round-trip preserves search results") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    idx.save(dir)
    val loaded = graft.io.IndexIO.loadAs[IvfIndex](spark, dir)
    assert(resultSet(loaded.search(q, 5, nprobe = 8)) == resultSet(idx.search(q, 5, nprobe = 8)))
    assert(loaded.nlist == idx.nlist && loaded.d == idx.d && loaded.metric == idx.metric)
  }

  test("merge_ondisk: shard invlists under one quantizer merge to one pruned store") {
    // contrib/ondisk.py:13 lifecycle: workers populate invlists
    // against COMMON centroids; the merge is a union write, never a
    // recluster, and the merged index must search like the original
    val even = new IvfIndex(idx.d, idx.metric, idx.nlist, idx.centroids,
      idx.invlists.filter(pmod(col("id"), lit(2)) === 0))
    val odd = new IvfIndex(idx.d, idx.metric, idx.nlist, idx.centroids,
      idx.invlists.filter(pmod(col("id"), lit(2)) === 1))
    val dir = java.nio.file.Files.createTempDirectory("mergeondisk").toString
    val merged = IvfIndex.mergeOnDisk(Seq(even, odd), dir)
    assert(resultSet(merged.search(q, 5, nprobe = 8)) ==
      resultSet(idx.search(q, 5, nprobe = 8)))
    // incompatible quantizers are refused
    val other = IvfIndex.build(b, "id", "vec", nlist = 4, niter = 2)
    intercept[IllegalArgumentException] {
      IvfIndex.mergeOnDisk(Seq(even, other), dir + "2")
    }
  }

  test("distributed_ondisk recipe: shard builds + mergeOnDisk == single build") {
    // benchs/distributed_ondisk lifecycle end to end: two-level
    // k-means trains the shared quantizer, every slice builds its own
    // invlists against it (IvfIndex.build centroids0), mergeOnDisk
    // unions them into one store — whose search must be bit-identical
    // to the single build over the same quantizer (test_merge.cpp).
    val cents = graft.cluster.TwoLevelClustering.fit(b, "vec", nlist = 8,
      niter1 = 2, niter2 = 2)
    val single = IvfIndex.build(b, "id", "vec", nlist = 8, centroids0 = cents)
    val shards = (0 until 3).map { g =>
      IvfIndex.build(b.filter(pmod(col("id"), lit(3)) === g), "id", "vec",
        nlist = 8, centroids0 = cents)
    }
    val dir = java.nio.file.Files.createTempDirectory("ondiskrecipe").toString
    val merged = IvfIndex.mergeOnDisk(shards, dir)
    assert(merged.invlists.count() == single.invlists.count())
    assert(resultSet(merged.search(q, 10, nprobe = 4)) ==
      resultSet(single.search(q, 10, nprobe = 4)))
  }

  test("Shards merges heterogeneous shard types (IndexShards over any same-d indexes)") {
    // the reference shards any Index sharing d; an IVF shard and a
    // Flat shard over disjoint halves at full budgets must reproduce
    // the exact union search
    val even = IndexFactory.build(b.filter(pmod(col("id"), lit(2)) === 0),
      "id", "vec", "IVF4,Flat", niter = 3)
    val odd = IndexFactory.build(b.filter(pmod(col("id"), lit(2)) === 1),
      "id", "vec", "Flat")
    val merged = graft.index.Shards.search(Seq(even, odd), q, k = 5, nprobe = 4)
    val want = resultSet(idx.search(q, 5, nprobe = 8))
    assert(resultSet(merged) == want)
  }

  test("Shards successive_ids renumbers locally-numbered shards (IndexShards.h:31)") {
    // two shards built over LOCALLY numbered rows (both starting at
    // 0): successive_ids offsets shard i's result ids by the sizes of
    // the shards before it, reproducing the global numbering exactly
    import org.apache.spark.sql.expressions.Window
    val globl = b.withColumn("gid",
      row_number().over(Window.orderBy(col("id"))).cast("long") - 1)
      .select(col("gid"), col("vec")).cache()
    val n = globl.count()
    val half = n / 2
    val s0 = globl.filter(col("gid") < half)
      .select(col("gid").as("id"), col("vec"))
    val s1 = globl.filter(col("gid") >= half)
      .select((col("gid") - half).as("id"), col("vec")) // local 0-based
    val sh0 = IndexFactory.build(s0, "id", "vec", "Flat")
    val sh1 = IndexFactory.build(s1, "id", "vec", "Flat")
    val merged = graft.index.Shards.search(Seq(sh0, sh1), q, k = 5,
      idOffsets = Some(Seq(0L, half)))
    val want = resultSet(
      IndexFactory.build(globl.select(col("gid").as("id"), col("vec")),
        "id", "vec", "Flat").search(q, 5))
    assert(resultSet(merged) == want)
  }

  test("mergeFrom with id shift = union of invlists") {
    val merged = idx.mergeFrom(idx, addId = 100000L)
    assert(merged.invlists.count() == 2 * idx.invlists.count())
    val ids = merged.invlists.select("id").collect().map(_.getLong(0))
    assert(ids.count(_ >= 100000L) == idx.invlists.count())
  }

  test("removeIds drops exactly the requested ids") {
    import spark.implicits._
    val del = Seq(10L, 11L, 12L).toDF("id")
    val pruned = idx.removeIds(del)
    assert(pruned.invlists.count() == idx.invlists.count() - 3)
  }

  test("maxCodes caps candidates but keeps top results when generous") {
    val capped = resultSet(idx.search(q, 5, nprobe = 8, maxCodes = Some(1000)))
    val full = resultSet(idx.search(q, 5, nprobe = 8))
    assert(capped == full)
  }

  test("big-batch paths (no static prune) are result-identical: search with " +
    "maxCodes, rangeSearch, searchPreassigned with distributed probes") {
    // the r14 big-batch fix removed the eager probed-set collect; the
    // shuffle equi-join must reproduce the broadcast plan's rows
    // bit-for-bit on every entry point, including the probe-budget
    // prefilter whose sizes now come from the UNpruned invlists
    val viaB = resultSet(idx.search(q, 5, nprobe = 4, maxCodes = Some(200)))
    val viaD = resultSet(idx.search(q, 5, nprobe = 4, maxCodes = Some(200),
      broadcastQueries = false))
    assert(viaD == viaB, "big-batch maxCodes search differs from broadcast")
    def rangeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rB = rangeSet(idx.rangeSearch(q, 0.5, nprobe = 4))
    val rD = rangeSet(idx.rangeSearch(q, 0.5, nprobe = 4,
      broadcastQueries = false))
    assert(rD == rB, "big-batch rangeSearch differs from broadcast")
    val probesDf = q.select(col("qid"))
      .crossJoin(spark.range(4).select(col("id").cast("int").as("list_no")))
    val pB = resultSet(idx.searchPreassigned(q, probesDf, k = 5))
    val pD = resultSet(idx.searchPreassigned(q, probesDf, k = 5,
      broadcastProbes = false))
    assert(pD == pB, "distributed-probe searchPreassigned differs")
  }

  test("factory IVF<n>_{HNSW,NSG}<deg>,<code>: graph coarse composes with any IVF code") {
    // The reference parses the coarse quantizer independently of the
    // code (index_factory.cpp:253-262 -> parse_IndexIVF), so
    // IVF8_HNSW16,PQ8 / IVF8_NSG16,PQ8 must train the SAME model as
    // IVF8,PQ8 (same seed/iters) and, at a walk budget >= nlist (the
    // Built's max(32, 4*nprobe) covers nlist = 8 at any nprobe),
    // return bit-identical results to the exact coarse assign.
    for (coarse <- Seq("HNSW16", "NSG16");
         code <- Seq("PQ8", "SQ8", "SQfp16", "PQ8x4fs", "PQ8x4fsr", "Flat",
           "RQ2x4", "LSQ2x4", "RQ2x4fs", "SH16x2.0m")) {
      val exact = IndexFactory.build(b, "id", "vec", s"IVF8,$code", niter = 3)
      val graph = IndexFactory.build(b, "id", "vec", s"IVF8_$coarse,$code", niter = 3)
      val want = resultSet(exact.search(q, 5, nprobe = 8))
      val got = resultSet(graph.search(q, 5, nprobe = 8))
      assert(got == want, s"IVF8_$coarse,$code != IVF8,$code")
    }
  }

  test("IVF<n>_HNSW (no degree) parses with the reference default m = 32") {
    val f = IndexFactory.build(b, "id", "vec", "IVF8_HNSW,Flat", niter = 3)
    assert(resultSet(f.search(q, 5, nprobe = 8)) ==
      resultSet(idx.search(q, 5, nprobe = 8)))
  }

  test("IVF<n>(<sub>) paren coarse: Flat/HNSW/NSG aliases match their plain forms") {
    // index_factory.cpp:263-267,719 — any parenthesized sub-description
    // becomes the quantizer. Flat == exact; HNSW/NSG == the underscore
    // forms (same trained model, same walk convention).
    val want = resultSet(
      IndexFactory.build(b, "id", "vec", "IVF8,PQ8", niter = 3)
        .search(q, 5, nprobe = 8))
    for (sub <- Seq("Flat", "HNSW16", "NSG16", "IVF4,Flat", "IVF4")) {
      // IVF4[,Flat]: two-level coarse — at nprobe = 8 >= nlist2 = 4
      // every sub-cell is scanned, degenerating to the exact ranking
      val f = IndexFactory.build(b, "id", "vec", s"IVF8($sub),PQ8", niter = 3)
      assert(resultSet(f.search(q, 5, nprobe = 8)) == want, s"IVF8($sub),PQ8")
    }
  }

  test("IVF<n>(PCA<k>,Flat): transform-prefixed quantizer ranks in PCA space") {
    // index_factory.cpp:719 with an IndexPreTransform sub-index: the
    // quantizer maps assignment AND probe ranking through the PCA
    // (trained on the cluster centers, train_q1) while candidate
    // distances stay exact in the original space. At full nprobe the
    // result must be the exact top-k regardless of list placement;
    // at nprobe=1 every base vector finds itself (its own transformed
    // vector ranks its assigned list first by construction).
    val f = IndexFactory.build(b, "id", "vec", "IVF8(PCA4,Flat),Flat", niter = 3)
    assert(resultSet(f.search(q, 5, nprobe = 8)) == resultSet(Knn.knnJoin(q, b, 5)))
    val selfQ = b.limit(20).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = f.search(selfQ, 1, nprobe = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, c) => a == c },
      "self-lookup through the PCA quantizer must hit its own list")
    // the RR<k> sub-index (seeded dim-reducing rotation) takes the
    // same route: full-probe exactness + own-list self-lookup
    val fr = IndexFactory.build(b, "id", "vec", "IVF8(RR4,Flat),Flat", niter = 3)
    assert(resultSet(fr.search(q, 5, nprobe = 8)) == resultSet(Knn.knnJoin(q, b, 5)))
    val gotR = fr.search(selfQ, 1, nprobe = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotR.forall { case (a, c) => a == c })
    // a genuinely PRUNED probe set still keeps useful recall — a
    // 4-of-64-dim PCA quantizer is deliberately lossy, so the bar is
    // the reference's IVF accuracy floor (test_index_accuracy.py:47
    // asserts > 0.2 at pruned nprobe), not near-exactness
    val exact1 = resultSet(idx.search(q, 10, nprobe = 8)).map { case (a, _, c) => (a, c) }
    val pca2 = resultSet(f.search(q, 10, nprobe = 2)).map { case (a, _, c) => (a, c) }
    val recall = (exact1 intersect pca2).size.toDouble / exact1.size
    assert(recall > 0.2, s"PCA-coarse nprobe=2 recall $recall")
  }

  test("range search composes with the graph coarse (exact-degenerate budget)") {
    // range_search under an IVF with a graph coarse quantizer: at a
    // walk budget covering nlist the probe set is exact, so the
    // radius results must equal the exact-coarse range search
    val want = idx.rangeSearch(q, radius = 5.0, nprobe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (c <- Seq(Probes.HnswCoarse(1024), Probes.NsgCoarse(1024))) {
      val got = idx.rangeSearch(q, radius = 5.0, nprobe = 4, coarse = Some(c))
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, c.toString)
    }
  }

  test("parsed quantizer_nprobe drives the two-level coarse knob") {
    // AutoTune.cpp:370 prefix form -> Probes.IvfFlatCoarse.nprobe2:
    // at quantizer_nprobe >= nlist2 the ranking is exact, so the
    // parsed parameters must reproduce the plain search
    val p = graft.tune.AutoTune.parseParams("nprobe=4,quantizer_nprobe=4")
    val got = resultSet(idx.search(q, 10, p.nprobe.get,
      coarse = Some(Probes.IvfFlatCoarse(4, p.quantizerNprobe.get))))
    assert(got == resultSet(idx.search(q, 10, nprobe = 4)))
  }

  test("two-level coarse supports nlist2 > 256 (integer sub-assignments, no byte code)") {
    val rng = new scala.util.Random(5)
    val cents = Array.fill(600)(Array.fill(8)(rng.nextFloat()))
    val (subCents, assign) = graft.core.CoarsePq.assignModel(cents, 300, niter = 3)
    assert(subCents.length == 300 && assign.length == 600)
    assert(assign.forall(a => a >= 0 && a < 300))
    // every index in [0, 300) must be representable (no mod-256 wrap):
    // some assignment lands above 255 with 600 rows over 300 clusters
    assert(assign.exists(_ > 255), "expected sub-cells above the byte range")
  }

  test("IVF<n>(IVF<n2>,Flat) two-level coarse: approximate regime prunes but keeps recall") {
    // nprobe2 = nprobe = 1 scans one sub-cell of the centroid table;
    // candidates are a subset of the probed lists, recall over the
    // exact nprobe=1 search stays high (the sub-cell nearly always
    // contains the globally nearest centroid)
    val f = IndexFactory.build(b, "id", "vec", "IVF8(IVF4,Flat),Flat", niter = 3)
    val exact1 = resultSet(idx.search(q, 10, nprobe = 1))
      .map { case (a, _, c) => (a, c) }
    val two1 = resultSet(f.search(q, 10, nprobe = 1))
      .map { case (a, _, c) => (a, c) }
    val recall = (exact1 intersect two1).size.toDouble / exact1.size
    assert(recall >= 0.7, s"two-level nprobe=1 recall $recall")
  }

  test("IVF<n>(PQ<m>),PQ<m2>: lossy-quantizer residuals via the decoded-table identity") {
    // ADC distance to a code == exact squared L2 to its decode, so
    // the factory route == IvfPqIndex built over the decoded centroid
    // table; verify the identity itself on the probe rankings too.
    val km = graft.cluster.KMeans.fit(b, "vec",
      graft.cluster.KMeans.Params(k = 8, niter = 3, seed = 1234L))
    val model = graft.core.CoarsePq.model(km.centroids, 8, 4)
    val cdec = graft.core.CoarsePq.decodedCentroids(model)
    import org.apache.spark.sql.graft.shim
    def ids(c: org.apache.spark.sql.Column) =
      q.select(col("qid"), explode(c).as("p"))
        .select(col("qid"), col("p.list_no"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaAdc = ids(shim.col(graft.core.NearestCentroidsAdc(
      shim.expr(col("qvec")), model._1, model._2, 4)))
    val viaDec = ids(shim.col(graft.core.NearestCentroids(
      shim.expr(col("qvec")), cdec, 4, "l2sq")))
    assert(viaAdc == viaDec, "ADC ranking must equal exact ranking over decodes")
    // factory route == direct build over the decoded table
    val f = IndexFactory.build(b, "id", "vec", "IVF8(PQ8x4),PQ8", niter = 3)
    val direct = IvfPqIndex.build(b, "id", "vec", nlist = 8, m = 8,
      ksub = 16, niterCoarse = 3, niterPq = 3, centroids0 = cdec)
    assert(resultSet(f.search(q, 5, nprobe = 8)) ==
      resultSet(direct.search(q, 5, nprobe = 8)))
    // same identity through the SQ route
    val fs = IndexFactory.build(b, "id", "vec", "IVF8(PQ8x4),SQ8", niter = 3)
    val directSq = IvfSqIndex.build(b, "id", "vec", nlist = 8, niter = 3,
      byResidual = true, centroids0 = cdec)
    assert(resultSet(fs.search(q, 5, nprobe = 8)) ==
      resultSet(directSq.search(q, 5, nprobe = 8)))
  }

  test("IVF<n>(SQ<w>),<code>: SQ-quantizer coarse via the decoded-table identity") {
    // index_factory.cpp:719 general paren sub-index: an
    // IndexScalarQuantizer quantizer assigns by asymmetric distance
    // query→decode(code) = exact L2 to the SQ-decoded centroid, so
    // the factory route must equal a direct build over
    // CoarseSq.decodedCentroids; at full nprobe the ranking is exact
    // regardless of which lists vectors landed in.
    val km = graft.cluster.KMeans.fit(b, "vec",
      graft.cluster.KMeans.Params(k = 8, niter = 3, seed = 1234L))
    val cdec = graft.core.CoarseSq.decodedCentroids(km.centroids, "SQ8")
    val f = IndexFactory.build(b, "id", "vec", "IVF8(SQ8),Flat", niter = 3)
    val direct = IvfIndex.build(b, "id", "vec", nlist = 8, centroids0 = cdec)
    assert(resultSet(f.search(q, 5, nprobe = 1)) ==
      resultSet(direct.search(q, 5, nprobe = 1)),
      "factory route must assign and probe through the decoded table")
    // full-probe exactness + the other code compositions build+search
    val exact = resultSet(Knn.knnJoin(q, b, 5))
    assert(resultSet(f.search(q, 5, nprobe = 8)) == exact)
    for (tok <- Seq("IVF8(SQ4),PQ8", "IVF8(SQfp16),SQ8", "IVF8(SQ6),Flat")) {
      val g = IndexFactory.build(b, "id", "vec", tok, niter = 3)
      assert(g.search(q, 5, nprobe = 8).count() == q.count() * 5, tok)
    }
  }

  test("IVF<n>(PQ<m>x<k>) coarse: ADC assignment is consistent between add and probes") {
    // The PQ quantizer ranks cells by ADC on BOTH sides: at full
    // nprobe the search must return the exact top-k (every list is
    // probed regardless of ranking), and at nprobe=1 each base row's
    // own vector must land in the list the probe ranking puts first
    // (add assigns through the same quantizer).
    val f = IndexFactory.build(b, "id", "vec", "IVF8(PQ8x4),Flat", niter = 3)
    val exact = resultSet(Knn.knnJoin(q, b, 5))
    assert(resultSet(f.search(q, 5, nprobe = 8)) == exact)
    // self-query: base vectors as queries at nprobe=1 must find themselves
    val selfQ = b.limit(20).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = f.search(selfQ, 1, nprobe = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, c) => a == c },
      s"self-lookup through the ADC quantizer must hit its own list")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString(",")).sorted.toSeq

  test("probes on the driver (broadcastQueries=true) and in the plan (false) give identical rows") {
    val outCols = Seq("qid", "rank", "id", "dist")
    for (coarse <- Seq(None, Some(Probes.HnswCoarse(efSearch = 16)))) {
      val viaDriver = sortedRows(idx.search(q, 10, nprobe = 3, coarse = coarse), outCols: _*)
      assert(viaDriver.length == 100)
      assert(viaDriver == sortedRows(idx.search(q, 10, nprobe = 3, coarse = coarse,
        broadcastQueries = false), outCols: _*), s"search, coarse = $coarse")
    }
    val radius = idx.search(q, 5, nprobe = 3).agg(max(col("dist"))).head().getDouble(0)
    val range = sortedRows(idx.rangeSearch(q, radius, nprobe = 3), "qid", "id", "dist")
    assert(range.length >= 50)
    assert(range == sortedRows(idx.rangeSearch(q, radius, nprobe = 3,
      broadcastQueries = false), "qid", "id", "dist"), "rangeSearch")
    val nps = Seq(1, 2, 5)
    val sweep = idx.searchSweep(q, 10, nps)
    val sweepInPlan = idx.searchSweep(q, 10, nps, broadcastQueries = false)
    nps.foreach { np =>
      val at = (df: org.apache.spark.sql.DataFrame) =>
        sortedRows(df.filter(col("np") === np), outCols: _*)
      assert(at(sweep).length == 100 && at(sweep) == at(sweepInPlan), s"searchSweep np = $np")
    }
  }

  /** A d=4 corpus and the d=4 IVF-Flat and IVF-PQ indexes over it. */
  private lazy val base4 = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 400).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat())))
      .toDF("id", "vec")
  }

  private lazy val idx4 =
    (IvfIndex.build(base4, "id", "vec", nlist = 4, niter = 2),
      IvfPqIndex.build(base4, "id", "vec", nlist = 4, m = 2, ksub = 4,
        niterCoarse = 2, niterPq = 2))

  private def queries4(vecs: Option[Seq[Float]]*) = {
    val s = spark
    import s.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("qid", "qvec")
  }

  test("probe step rejects a query vector whose length is not d, without a job") {
    val (flat, pq) = idx4
    val (imi, imipq, imisq, bivf) = imiFamily
    val bad = queries4(Some(Seq(0.1f, 0.2f, 0.3f, 0.4f)), Some(Seq(0.1f, 0.2f, 0.3f)))
    val b = base4
    val sq = IvfSqIndex.build(b, "id", "vec", nlist = 4, niter = 2)
    val rq = IvfRq.build(b, "id", "vec", nlist = 4, levels = 2, k = 4,
      niterCoarse = 2, niterRq = 2)
    val rcq = IvfRcq.build(b, "id", "vec", levels = 2, bits = 1, niter = 2)
    val pqr = IvfPqrIndex.build(b, "id", "vec", nlist = 4, m = 2, ksub = 4,
      niterCoarse = 2, niterPq = 2)
    val sh = IvfSpectralHash.build(b, "id", "vec", nlist = 4, nbit = 4,
      period = 1.0, niter = 2)
    val pq4 = IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4, m = 2,
      niterCoarse = 2, niterPq = 2)
    val pq4r = IvfPq4FastScanRIndex.build(b, "id", "vec", nlist = 4, m = 2,
      niterCoarse = 2, niterPq = 2)
    val rq4 = IvfRq4FastScanIndex.build(b, "id", "vec", nlist = 4, levels = 2,
      niterCoarse = 2, niter = 2)
    val rq4r = IvfRq4FastScanRIndex.build(b, "id", "vec", nlist = 4, levels = 2,
      niterCoarse = 2, niter = 2)
    for ((name, search) <- Seq[(String, () => Any)](
        "IVF-Flat" -> (() => flat.search(bad, 5, nprobe = 2)),
        "IVF-PQ" -> (() => pq.search(bad, 5, nprobe = 2)),
        "IVF-SQ" -> (() => sq.search(bad, 5, nprobe = 2)),
        "IVF-RQ" -> (() => rq.search(bad, 5, nprobe = 2)),
        "IVF-RQ LUT" -> (() => rq.searchNormLut(bad, 5, 2, rq.codes, nonorm = true)),
        "IVF-RCQ" -> (() => rcq.search(bad, 5, nprobe = 2)),
        "IVF-PQR" -> (() => pqr.search(bad, 5, nprobe = 2)),
        "IVF-SH" -> (() => sh.search(bad, 5, nprobe = 2)),
        "IVF-PQ fast-scan" -> (() => pq4.search(bad, 5, nprobe = 2)),
        "IVF-PQ fast-scan by residual" -> (() => pq4r.search(bad, 5, nprobe = 2)),
        "IVF-RQ fast-scan" -> (() => rq4.search(bad, 5, nprobe = 2)),
        "IVF-RQ fast-scan by residual" -> (() => rq4r.search(bad, 5, nprobe = 2)),
        "IMI" -> (() => imi.search(bad, 5, nprobe = 2)),
        "IMI search2" -> (() => imi.search2(bad, 5, nprobe = 2)),
        "IMI-PQ" -> (() => imipq.search(bad, 5, nprobe = 2)),
        "IMI-PQ range" -> (() => imipq.rangeSearch(bad, 0.3, nprobe = 2)),
        "IMI-PQ sweep" -> (() => imipq.sweepCandidates(bad, 2)),
        "IMI-SQ" -> (() => imisq.search(bad, 5, nprobe = 2)))) {
      val (err, jobs) = jobsLaunchedBy(intercept[IllegalArgumentException](search()))
      assert(err.getMessage.contains("`qvec` has a row of length 3") &&
        err.getMessage.contains("d = 4"), s"$name: ${err.getMessage}")
      assert(jobs == 0, s"$name: the shape check launched $jobs job(s)")
    }
    // a binary IVF over d = 12 sign bits takes 2-byte codes
    val badCode = codes2(Array[Byte](1, 2), Array[Byte](1, 2, 3))
    for ((name, search) <- Seq[(String, () => Any)](
        "BinaryIvf" -> (() => bivf.search(badCode, 5, nprobe = 2)),
        "BinaryIvf range" -> (() => bivf.rangeSearch(badCode, 3, nprobe = 2)),
        "BinaryIvf HNSW" -> (() => bivf.search(badCode, 5, nprobe = 2, hnswCoarse = Some(8))),
        "BinaryIvf HNSW range" ->
          (() => bivf.rangeSearch(badCode, 3, nprobe = 2, hnswCoarse = Some(8))))) {
      val (err, jobs) = jobsLaunchedBy(intercept[IllegalArgumentException](search()))
      assert(err.getMessage.contains("`qcode` has a row of 3 bytes") &&
        err.getMessage.contains("2-byte codes"), s"$name: ${err.getMessage}")
      assert(jobs == 0, s"$name: the shape check launched $jobs job(s)")
    }
    Seq(sq.codes, rq.codes, rcq.invlists, pqr.codes, pq4.codes, pq4r.codes,
      rq4.codes, rq4r.codes).foreach(_.unpersist())
  }

  /** IMI, IMI-PQ and by-residual IMI-SQ indexes (2×2 cells) and a
    * binary IVF over 12 sign bits, all over [[base4]]. */
  private lazy val imiFamily = {
    val b = base4
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val b12 = (0 until 400).map(i => (i.toLong, Array.fill(12)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "vec")
    (ImiIndex.build(b, "id", "vec", ksub = 2, niter = 2),
      ImiPqIndex.build(b, "id", "vec", ksub = 2, m = 2, pqKsub = 4, niterCoarse = 2,
        niterPq = 2),
      ImiSqIndex.build(b, "id", "vec", ksub = 2, niterCoarse = 2, byResidual = true),
      BinaryIvfIndex.buildFromVectors(b12, "id", "vec", nlist = 4, niter = 2))
  }

  private def codes2(codes: Array[Byte]*) = {
    val s = spark
    import s.implicits._
    codes.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("qid", "qcode")
  }

  /** `f` with `spark.sql.autoBroadcastJoinThreshold` at -1: a search's
    * probe rows broadcast-join the lists instead of being looked up. */
  private def probeJoin[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every family behind Probes.scan looks its probe rows up and returns " +
    "the rows of its probe-join plan") {
    val (flat, pq) = idx4
    val (imi, imipq, imisq, bivf) = imiFamily
    val rnd = new scala.util.Random(11)
    val qs = queries4(Seq.fill(6)(Some(Seq.fill(4)(rnd.nextFloat()))): _*)
    val qcodes = codes2(Seq.fill(6)(Array.fill(2)(rnd.nextInt(256).toByte)): _*)
    val b = base4
    val sq = IvfSqIndex.build(b, "id", "vec", nlist = 4, niter = 2, byResidual = true)
    val rq = IvfRq.build(b, "id", "vec", nlist = 4, levels = 2, k = 4,
      niterCoarse = 2, niterRq = 2)
    val rcq = IvfRcq.build(b, "id", "vec", levels = 2, bits = 1, niter = 2)
    val pqr = IvfPqrIndex.build(b, "id", "vec", nlist = 4, m = 2, ksub = 4,
      niterCoarse = 2, niterPq = 2)
    val sh = IvfSpectralHash.build(b, "id", "vec", nlist = 4, nbit = 4,
      period = 1.0, niter = 2)
    val pq4 = IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4, m = 2,
      niterCoarse = 2, niterPq = 2)
    val pq4r = IvfPq4FastScanRIndex.build(b, "id", "vec", nlist = 4, m = 2,
      niterCoarse = 2, niterPq = 2)
    val rq4 = IvfRq4FastScanIndex.build(b, "id", "vec", nlist = 4, levels = 2,
      niterCoarse = 2, niter = 2)
    val rq4r = IvfRq4FastScanRIndex.build(b, "id", "vec", nlist = 4, levels = 2,
      niterCoarse = 2, niter = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def lookedUp(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("probe_lookup")
    // IVF-Flat's probe-join plan is its big-batch one, with the quantizer in the plan
    for ((name, lookup, join) <- Seq[(String, () => org.apache.spark.sql.DataFrame,
        () => org.apache.spark.sql.DataFrame)](
        ("IVF-Flat", () => flat.search(qs, 5, nprobe = 2),
          () => flat.search(qs, 5, nprobe = 2, broadcastQueries = false)),
        ("IVF-Flat range", () => flat.rangeSearch(qs, 0.3, nprobe = 2),
          () => flat.rangeSearch(qs, 0.3, nprobe = 2, broadcastQueries = false)),
        ("IVF-Flat sweep", () => flat.searchSweep(qs, 5, Seq(1, 2, 3)),
          () => flat.searchSweep(qs, 5, Seq(1, 2, 3), broadcastQueries = false)))) {
      val got = lookup()
      assert(lookedUp(got) && rows(got) == rows(join()), name)
    }
    for ((name, search) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "IVF-PQ" -> (() => pq.search(qs, 5, nprobe = 2)),
        "IVF-PQR" -> (() => pqr.search(qs, 5, nprobe = 2)),
        "IVF-SQ" -> (() => sq.search(qs, 5, nprobe = 2)),
        "IVF-RQ" -> (() => rq.search(qs, 5, nprobe = 2)),
        "IVF-RQ LUT" -> (() => rq.searchNormLut(qs, 5, 2, rq.codes, nonorm = true)),
        "IVF-RCQ" -> (() => rcq.search(qs, 5, nprobe = 2)),
        "IVF-SH" -> (() => sh.search(qs, 5, nprobe = 2)),
        "IVF-PQ fast-scan" -> (() => pq4.search(qs, 5, nprobe = 2)),
        "IVF-PQ fast-scan by residual" -> (() => pq4r.search(qs, 5, nprobe = 2)),
        "IVF-RQ fast-scan" -> (() => rq4.search(qs, 5, nprobe = 2)),
        "IVF-RQ fast-scan by residual" -> (() => rq4r.search(qs, 5, nprobe = 2)),
        "IMI" -> (() => imi.search(qs, 5, nprobe = 2)),
        "IMI-PQ" -> (() => imipq.search(qs, 5, nprobe = 2)),
        "IMI-PQ range" -> (() => imipq.rangeSearch(qs, 0.5, nprobe = 2)),
        "IMI-PQ sweep" -> (() => imipq.sweepCandidates(qs, 2)),
        "IMI-SQ by residual" -> (() => imisq.search(qs, 5, nprobe = 2)),
        "BinaryIvf" -> (() => bivf.search(qcodes, 5, nprobe = 2)),
        "BinaryIvf range" -> (() => bivf.rangeSearch(qcodes, 8, nprobe = 2)),
        "BinaryIvf HNSW" -> (() => bivf.search(qcodes, 5, nprobe = 2, hnswCoarse = Some(8))))) {
      val got = search()
      val (joined, joinedLookup) = probeJoin { val j = search(); (rows(j), lookedUp(j)) }
      assert(lookedUp(got) && !joinedLookup, s"$name: lookup plan ${lookedUp(got)}")
      assert(rows(got).nonEmpty && rows(got) == joined, name)
    }
    Seq(sq.codes, rq.codes, rcq.invlists, pqr.codes, pq4.codes, pq4r.codes,
      rq4.codes, rq4r.codes).foreach(_.unpersist())
  }

  test("a null query vector yields no rows for that query") {
    val (flat, pq) = idx4
    val qs = queries4(None, Some(Seq(0.5f, 0.5f, 0.5f, 0.5f)))
    for (res <- Seq(flat.search(qs, 5, nprobe = 2), pq.search(qs, 5, nprobe = 2),
        flat.search(qs, 5, nprobe = 2, broadcastQueries = false)))
      assert(res.select("qid").collect().map(_.getLong(0)).toSeq == Seq.fill(5)(1L))
  }
}
