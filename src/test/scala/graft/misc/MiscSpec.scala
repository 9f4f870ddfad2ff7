package graft.misc

import graft.SparkTestBase
import graft.cluster.{KMeans, KMeans1D}
import graft.streaming.StreamingIngest
import graft.tune.AutoTune
import graft.index.IvfIndex
import org.apache.spark.sql.functions._

class MiscSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("kmeans1d exact DP matches brute force on tiny input") {
    val hist = Array((0.0, 1L), (0.1, 1L), (0.2, 1L), (5.0, 1L), (5.1, 1L), (9.0, 1L))
    val r = KMeans1D.fitHistogram(hist, 3)
    // brute force over all 2-cut positions
    def sse(xs: Seq[Double]) = {
      val m = xs.sum / xs.size; xs.map(x => (x - m) * (x - m)).sum
    }
    val vals = hist.map(_._1).toSeq
    val best = (for {
      c1 <- 1 until 5; c2 <- (c1 + 1) until 6
    } yield sse(vals.slice(0, c1)) + sse(vals.slice(c1, c2)) + sse(vals.slice(c2, 6))).min
    assert(math.abs(r.objective - best) < 1e-9)
    assert(r.centroids.length == 3 && r.boundaries.head == 0.0)
  }

  test("kmeans1d on lineitem quantity is deterministic and ordered") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val r = KMeans1D.fit(li, "l_quantity", 4)
    assert(r.centroids.sliding(2).forall { case Array(a, b) => a < b })
  }

  test("streaming ingest appends into a searchable IVF layout") {
    val data = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val model = KMeans.fit(data, "vec", KMeans.Params(k = 4, niter = 3))
    val dir = java.nio.file.Files.createTempDirectory("ingest").toString
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Seq[Float])]
    val stream = ms.toDF().select(col("_1").as("id"),
      col("_2").cast("array<float>").as("vec"))
    val rows = data.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val q = StreamingIngest.startIngest(stream, model, dir,
      java.nio.file.Files.createTempDirectory("ckpt").toString)
    try {
      ms.addData(rows.take(250).toSeq)
      q.processAllAvailable()
      ms.addData(rows.drop(250).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.parquet(s"$dir/invlists")
    assert(written.count() == 500)
    assert(written.select("list_no").distinct().count() <= 4)
    // each appended file is sorted by list_no
    val files = graft.io.IndexLayoutFixtures.storedLists(spark, s"$dir/invlists", "list_no")
    assert(files.size >= 2 && files.forall(l => l == l.sorted), files.map(_.take(20)))
  }

  test("streaming ingest refuses a store in the list_no= directory layout") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val legacy = java.nio.file.Paths.get(getClass.getResource("/index_layout_legacy/ivfflat").toURI)
    val dir = Files.createTempDirectory("ingest_legacy")
    try {
      val walk = Files.walk(legacy)
      try walk.iterator().asScala.foreach(p =>
        if (p != legacy) Files.copy(p, dir.resolve(legacy.relativize(p).toString)))
      finally walk.close()
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val stream = MemoryStream[(Long, Seq[Float])].toDF()
        .select(col("_1").as("id"), col("_2").as("vec"))
      val model = KMeans.Model(Array(Array(0f, 0f, 0f, 0f)), 0.0, Nil, Array(0L))
      val ex = intercept[IllegalArgumentException](StreamingIngest.startIngest(stream, model,
        dir.toString, dir.resolve("ckpt").toString))
      assert(ex.getMessage.contains("list_no="))
    } finally StreamingIngest.rmTree(dir)
  }

  test("sliding window retention keeps newest partitions") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("day", "v")
    val kept = StreamingIngest.slidingWindow(df, "day", 2)
    assert(kept.select("day").collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
  }

  test("autotune: recall nondecreasing in nprobe; pareto front is minimal") {
    val b = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val idx = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 3)
    val pts = AutoTune.explore(idx, q, b, 10, Seq(1, 2, 4, 8))
    assert(pts.map(_.recall).sliding(2).forall { case Seq(a, c) => c >= a - 1e-9 })
    assert(pts.last.recall > 0.99) // nprobe = nlist is exact
    val front = AutoTune.paretoFront(pts)
    assert(front.nonEmpty && front.size <= pts.size)
  }

  test("multi-parameter autotune: (nprobe, ht, max_codes) grid from one scan") {
    val b = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val idx = graft.index.IvfPqIndex.build(b, "id", "vec",
      nlist = 8, m = 8, ksub = 16, niterCoarse = 3, niterPq = 3)
    val pts = AutoTune.exploreMulti(idx, q, b, 10,
      nprobes = Seq(2, 8), hts = Seq(12, 32), maxCodesList = Seq(5, 1000000))
    assert(pts.size == 8)
    val byKey = pts.map(p => ((p.nprobe, p.ht, p.maxCodes), p)).toMap
    // degenerate axes (ht >= code bits, max_codes >= largest list)
    // must reproduce the plain IVFPQ search of the same nprobe
    val open = byKey((8, 32, 1000000))
    val adcTop = idx.search(q, 10, nprobe = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = graft.knn.Knn.knnJoin(q, b, 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (adcTop intersect truth).size.toDouble / truth.size
    assert(math.abs(open.recall - adcRecall) < 1e-9,
      s"grid(8, open, open).recall=${open.recall} != search recall $adcRecall")
    assert(math.abs(open.scannedFrac - 1.0) < 1e-9,
      "nprobe=nlist with open filters scans every code")
    // each axis only REMOVES candidates: recall and cost are
    // monotone in every coordinate (AutoTune.cpp's grid ordering)
    for (np <- Seq(2, 8); ht <- Seq(12, 32); mc <- Seq(5, 1000000)) {
      val p = byKey((np, ht, mc))
      assert(p.scannedFrac <= byKey((8, ht, mc)).scannedFrac + 1e-12)
      assert(p.scannedFrac <= byKey((np, 32, mc)).scannedFrac + 1e-12)
      assert(p.scannedFrac <= byKey((np, ht, 1000000)).scannedFrac + 1e-12)
    }
    val front = AutoTune.paretoFrontM(pts)
    assert(front.nonEmpty && front.size <= pts.size)
    // the fully-open point has max recall, so it (or an equal-recall
    // cheaper point) survives dominance
    assert(front.map(_.recall).max >= pts.map(_.recall).max - 1e-12)
  }

  test("OneRecallAtRCriterion (AutoTune.h:44): exact at nprobe=nlist, >= intersection") {
    val b = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val idx = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 3)
    val oneR = AutoTune.explore1RecallAtR(idx, q, b, r = 10, nprobes = Seq(2, 8))
    val inter = AutoTune.explore(idx, q, b, 10, Seq(2, 8))
    // nprobe = nlist is the exact search: the true 1-NN is always in
    // its own top-10
    assert(math.abs(oneR.last.recall - 1.0) < 1e-9)
    // finding just the 1-NN in top-R is typically easier than matching
    // the whole top-k set (deterministic on this fixture — data,
    // seeds, and training are all fixed, so this pins the relation as
    // a regression, not as a theorem)
    oneR.zip(inter).foreach { case (a, c) =>
      assert(a.recall >= c.recall - 1e-9, s"np=${a.nprobe}: ${a.recall} < ${c.recall}")
    }
  }

  test("k_factor axis (AutoTune.cpp:347): prefix subsets, monotone recall") {
    val b = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val pts = AutoTune.exploreKFactor(q, b, 10, Seq(1, 2, 4, 8))
    assert(pts.map(_.kFactor) == Seq(1, 2, 4, 8))
    // a larger stage-1 budget can only ADD candidates to the exact
    // re-rank, so recall is nondecreasing in k_factor
    assert(pts.map(_.recall).sliding(2).forall { case Seq(a, c) => c >= a - 1e-9 })
    assert(pts.map(_.rerankedFrac).sliding(2).forall { case Seq(a, c) => c >= a })
    val front = AutoTune.paretoFrontKf(pts)
    assert(front.nonEmpty && front.map(_.recall).max >= pts.map(_.recall).max - 1e-12)
  }

  test("efSearch axis (AutoTune.cpp:403): ef >= nlist degenerates to exact probes") {
    val b = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val idx = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 3)
    val pts = AutoTune.exploreEf(idx, q, b, 10, nprobe = 8, efs = Seq(4, 1024))
    // ef >= nlist covers the whole centroid graph: exact probe set at
    // nprobe = nlist -> every list scanned, recall 1
    val exactPt = pts.find(_.efSearch == 1024).get
    assert(math.abs(exactPt.recall - 1.0) < 1e-9, s"recall ${exactPt.recall}")
    assert(math.abs(exactPt.scannedFrac - 1.0) < 1e-9)
    // the tight walk budget scans at most as much
    assert(pts.find(_.efSearch == 4).get.scannedFrac <= 1.0 + 1e-12)
  }

  test("ParameterSpace string grammar (AutoTune.cpp:316)") {
    val p = AutoTune.parseParams("nprobe=16,ht=52,max_codes=10000,k_factor=2,efSearch=64")
    assert(p == AutoTune.SearchParams(Some(16), Some(52), Some(10000), Some(2), Some(64)))
    // the reference accepts double-typed values ("nprobe=4.0")
    assert(AutoTune.parseParams("nprobe=4.0").nprobe.contains(4))
    // quantizer-prefixed form (AutoTune.cpp:370-372): the coarse
    // quantizer's own parameters, prefixed — maps to the same walk
    // budget the efSearch axis tunes
    assert(AutoTune.parseParams("nprobe=8,quantizer_efSearch=64") ==
      AutoTune.SearchParams(nprobe = Some(8), efSearch = Some(64)))
    assert(AutoTune.parseParams("quantizer_nprobe=2").quantizerNprobe.contains(2))
    assert(AutoTune.parseParams("").isInstanceOf[AutoTune.SearchParams])
    intercept[IllegalArgumentException] {
      AutoTune.parseParams("quantizer_efSearch_bogus=3")
    }
  }
}
