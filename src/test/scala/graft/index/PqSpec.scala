package graft.index

import graft.SparkTestBase
import graft.knn.Knn
import graft.eval.Recall
import org.apache.spark.sql.functions._

class PqSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def q = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val pq = PqIndex.build(b, "id", "vec", m = 8, ksub = 16, niter = 5)

  test("ADC distance equals L2 to the decoded vector") {
    val model = pq.model
    val df = pq.codes.limit(100).crossJoin(broadcast(q.limit(5)))
      .select(
        model.adcCol(col("code"), model.lutCol(col("qvec"))).as("adc"),
        graft.functions.l2sq(col("qvec"), model.decodeCol(col("code"))).as("viaDecode"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6,
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("PQ search recall above floor (lossy but informative)") {
    val truth = Knn.knnJoin(q, b, 10)
    val approx = pq.search(q, 10)
    val rec = Recall.mean(truth, approx)
    assert(rec > 0.15, s"recall $rec")
  }

  test("polysemous Hamming pre-filter: generous ht == unfiltered") {
    val unfiltered = pq.search(q, 5).select("qid", "id").collect().toSet
    val generous = pq.search(q, 5, polysemousHt = Some(64)).select("qid", "id").collect().toSet
    assert(generous == unfiltered)
    // aggressive ht returns a subset of candidates per query
    val aggressive = pq.search(q, 5, polysemousHt = Some(2))
    assert(aggressive.count() <= 50)
  }

  test("polysemous training: more pruning at equal recall than untrained codes") {
    val trained = new PqIndex(Polysemous.optimize(pq.model),
      Polysemous.optimize(pq.model).encode(b, "id", "vec"))
    // unfiltered ADC results are permutation-invariant: same centroids,
    // relabeled codes
    val truthPlain = pq.search(q, 5).select("qid", "id").collect().toSet
    val truthTrain = trained.search(q, 5).select("qid", "id").collect().toSet
    assert(truthPlain == truthTrain)

    def survivors(ix: PqIndex, ht: Int): Long = {
      import graft.functions.hamming_dist
      val qc = q.select(col("qid"),
        org.apache.spark.sql.graft.shim.col(graft.core.PQEncode(
          org.apache.spark.sql.graft.shim.expr(col("qvec")), ix.model.codebooks)).as("_qc"))
      ix.codes.crossJoin(broadcast(qc))
        .filter(hamming_dist(col("code"), col("_qc")) <= ht).count()
    }
    def recallAt(ix: PqIndex, ht: Int, truth: Set[org.apache.spark.sql.Row]): Double = {
      val got = ix.search(q, 5, polysemousHt = Some(ht)).select("qid", "id").collect().toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    // smallest ht reaching 95% of the unfiltered result set, per variant
    def htFor(ix: PqIndex, truth: Set[org.apache.spark.sql.Row]): Int =
      (0 to 64).find(ht => recallAt(ix, ht, truth) >= 0.95).get
    val htPlain = htFor(pq, truthPlain)
    val htTrain = htFor(trained, truthTrain)
    val total = survivors(pq, 64)
    val passPlain = survivors(pq, htPlain).toDouble / total
    val passTrain = survivors(trained, htTrain).toDouble / total
    info(f"equal-recall ht: plain=$htPlain (pass ${passPlain * 100}%.1f%%) " +
      f"trained=$htTrain (pass ${passTrain * 100}%.1f%%)")
    assert(passTrain < passPlain,
      f"trained codes must prune more at equal recall: $passTrain%.4f vs $passPlain%.4f")
  }

  test("true IVFPQR: second codebook improves recall over plain IVFPQ") {
    val truth = Knn.knnJoin(q, b, 10).cache()
    val plain = IvfPqIndex.build(b, "id", "vec", nlist = 8, m = 8, ksub = 16,
      niterCoarse = 4, niterPq = 4)
    val pqr = IvfPqrIndex.build(b, "id", "vec", nlist = 8, m = 8, ksub = 16,
      niterCoarse = 4, niterPq = 4)
    val rPlain = Recall.mean(truth, plain.search(q, 10, nprobe = 8))
    val rPqr = Recall.mean(truth, pqr.search(q, 10, nprobe = 8))
    // the re-rank over a 4x candidate pool with finer reconstruction
    // should not lose recall (usually gains)
    assert(rPqr >= rPlain - 0.05, s"pqr $rPqr vs plain $rPlain")
    truth.unpersist()
  }

  test("IVFPQ search: recall above floor and ids within base") {
    val ivfpq = IvfPqIndex.build(b, "id", "vec", nlist = 8, m = 8, ksub = 16,
      niterCoarse = 4, niterPq = 4)
    val truth = Knn.knnJoin(q, b, 10)
    val res = ivfpq.search(q, 10, nprobe = 8)
    val rec = Recall.mean(truth, res)
    assert(rec > 0.1, s"recall $rec")
    assert(res.select("id").collect().forall(_.getLong(0) >= 10))
  }

  test("IVFPQ polysemous_ht (IndexIVFPQ.h:41): open ht == unfiltered; tight ht prunes") {
    val ivfpq = IvfPqIndex.build(b, "id", "vec", nlist = 8, m = 8, ksub = 16,
      niterCoarse = 4, niterPq = 4)
    def res(ht: Option[Int]) = ivfpq.search(q, 10, nprobe = 8, polysemousHt = ht)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ht = all code bits (8 subquantizers x 4 bits x 2 per-byte max
    // diff bound = 64 covers any byte-wise Hamming) passes everything
    assert(res(Some(64)) == res(None))
    // a tight ht only REMOVES candidates from the ranked pool
    val tight = ivfpq.search(q, 10, nprobe = 8, polysemousHt = Some(8))
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val openIds = ivfpq.search(q, 10, nprobe = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tight.size <= openIds.length)
  }

  test("PQ training rejects fewer rows than ksub; ksub within the row count trains and searches") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 100).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
      .toDF("id", "vec")
    val err = intercept[IllegalArgumentException] {
      PqIndex.build(base, "id", "vec", m = 4, ksub = 256)
    }
    assert(err.getMessage.contains("ksub = 256") && err.getMessage.contains("got 100"),
      err.getMessage)
    // ksub 64 <= 100 rows: every ADC distance is the exact squared L2
    // to the decoded code, so PQ search equals exact search over the
    // reconstruction
    val ix = PqIndex.build(base, "id", "vec", m = 4, ksub = 64)
    assert(ix.model.codebooks.forall(_.length == 64))
    val qs = base.filter(col("id") < 5).select(col("id").as("qid"), col("vec").as("qvec"))
    def dists(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "dist").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val got = dists(ix.search(qs, 5))
    val want = dists(Knn.knnJoin(qs, ix.reconstruct, 5))
    assert(got.keySet == want.keySet && got.size == 25)
    got.foreach { case (key, d) =>
      assert(d >= 0 && math.abs(d - want(key)) < 1e-5, s"$key: $d vs ${want(key)}")
    }
  }
}
