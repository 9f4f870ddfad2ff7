package graft.index

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Index2Layer: coarse centroid + PQ residual storage
  * (faiss/Index2Layer.h:29). Reconstruction must beat coarse-only
  * reconstruction (the PQ refines the residual) and round-trip
  * deterministically. */
class TwoLayerSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private def data = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def sse(recon: org.apache.spark.sql.DataFrame): Double =
    recon.join(data, "id")
      .select(aggregate(
        zip_with(col("vec").cast("array<double>"),
          col("rv").cast("array<double>"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x).as("e"))
      .agg(sum(col("e"))).first().getDouble(0)

  test("PQ residual reconstruction beats coarse-only reconstruction") {
    val idx = TwoLayerIndex.build(data, "id", "vec",
      nlist = 8, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    val full = sse(idx.reconstruct.select(col("id"), col("vec").as("rv")))
    // coarse-only: centroid of the assigned list
    val s = spark
    import s.implicits._
    val centDf = idx.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("list_no", "_c")
      .select(col("list_no"), col("_c").cast("array<float>").as("rv"))
    val coarse = sse(idx.codes.join(broadcast(centDf), "list_no").select(col("id"), col("rv")))
    assert(full < coarse, s"2-layer sse $full !< coarse sse $coarse")
  }

  test("reconstruction is deterministic across builds") {
    def run() = {
      val idx = TwoLayerIndex.build(data, "id", "vec",
        nlist = 8, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
      idx.reconstruct.select(col("id"),
        round(element_at(col("vec"), 1).cast("double"), 5).as("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    }
    assert(run() == run())
  }

  test("factory string Residual8,PQ8 builds and searches k rows per query") {
    val built = IndexFactory.build(data, "id", "vec", "Residual8,PQ8", niter = 3)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val res = built.search(q, k = 4)
    assert(res.groupBy("qid").count().collect().forall(_.getLong(1) == 4))
    assert(IndexFactory.codeSize("Residual8,PQ8", 64) == 8)
  }

  test("Residual2x4,PQ8 (MIQ first layer): cells decompose, PQ refines, factory parses") {
    // index_factory.cpp:270-278 — MultiIndexQuantizer coarse with
    // nlist = 2^(2*4) = 256 cells that are never materialized as a
    // centroid table; reconstruction concatenates the two half
    // centroids from the cell digits and adds the PQ residual.
    val idx = MiqTwoLayerIndex.build(data, "id", "vec",
      mCoarse = 2, nbit = 4, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    assert(idx.nlist == 256)
    // cell digits stay in range
    val cells = idx.codes.select("cell").collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < 256))
    // full reconstruction beats the coarse-only (concat-half) decode
    val full = sse(idx.reconstruct.select(col("id"), col("vec").as("rv")))
    val coarseOnly = sse(idx.codes.select(col("id"),
      ImiProbes.cellCentroid(col("cell"), idx.coarse).as("rv")))
    assert(full < coarseOnly, s"MIQ 2-layer sse $full !< coarse sse $coarseOnly")
    // factory route builds the same model (same seed/iters) and searches
    val built = IndexFactory.build(data, "id", "vec", "Residual2x4,PQ8", niter = 3)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(built.search(q, k = 4).groupBy("qid").count()
      .collect().forall(_.getLong(1) == 4))
  }

  test("MIQ two-layer save/load round-trip preserves reconstruction") {
    val idx = MiqTwoLayerIndex.build(data, "id", "vec",
      mCoarse = 2, nbit = 4, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    val dir = java.nio.file.Files.createTempDirectory("miq2l").toString
    graft.io.IndexIO.save(idx, dir)
    val loaded = graft.io.IndexIO.loadAs[graft.index.MiqTwoLayerIndex](spark, dir)
    assert(loaded.mCoarse == 2 && loaded.ksub == 16 && loaded.nlist == 256)
    def snap(i: MiqTwoLayerIndex) = i.reconstruct
      .select(col("id"), round(element_at(col("vec"), 1).cast("double"), 5).as("v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(snap(loaded) == snap(idx))
  }

  test("IndexHNSW2Level factory forms: graph over 2-layer storage equals the decoded scan") {
    // HNSW<M>,<ncent>+PQ<m> and HNSW<M>,2x<nbit>+PQ<m>
    // (index_factory.cpp:455-472). At this scale every partition's
    // graph is tiny, so the efSearch budget covers it and the graph
    // search must equal the exact kNN over the SAME decoded storage
    // (built with the same seed/iters).
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val flatRecon = TwoLayerIndex.build(data, "id", "vec",
      nlist = 8, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3).reconstruct
    val miqRecon = MiqTwoLayerIndex.build(data, "id", "vec",
      mCoarse = 2, nbit = 4, m = 8, ksub = 16,
      niterCoarse = 3, niterPq = 3).reconstruct
    for ((tok, recon) <- Seq("HNSW16,8+PQ8" -> flatRecon,
                             "HNSW16,2x4+PQ8" -> miqRecon)) {
      val built = IndexFactory.build(data, "id", "vec", tok, niter = 3)
      val want = rset(graft.knn.Knn.knnJoin(q, recon, 5))
      assert(rset(built.search(q, k = 5)) == want, tok)
    }
  }
}
