package graft.misc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.cluster.{KMeans, TwoLevelClustering}
import graft.index.Pq

/** Training samples within the in-process bound run their Lloyd rounds
  * on the driver (graft.core.Lloyd); larger ones run them on Lloyd's
  * Spark backend. Both paths must train the same model from the same
  * sample, and the in-process one must not pay a Spark job per round. */
class InProcessTrainSpec extends SparkTestBase {

  private val inProcess: Long => Boolean = _ => true
  private val distributed: Long => Boolean = _ => false

  /** Rows of multiples of 1/8 in [-8, 8]: every double sum of them is
    * exact, so the order in which the distributed rounds add partial
    * sums cannot move a mean. The comparison then pins what both paths
    * must share: distances, tie rule, update, init and the policies. */
  private def gridRows(n: Int, d: Int, seed: Int): Seq[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(d)(rnd.nextInt(129) - 64))
  }
  private def gridVecs(n: Int, d: Int, seed: Int): DataFrame = {
    import spark.implicits._
    gridRows(n, d, seed).map(r => Tuple1(r.map(_ / 8f))).toDF("vec")
  }

  private def assertSame(a: KMeans.Model, b: KMeans.Model): Unit = {
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    assert(a.sizes.toSeq == b.sizes.toSeq)
    assert(math.abs(a.objective - b.objective) <= 1e-9 * math.abs(b.objective))
  }

  private def fitBoth(df: DataFrame, p: KMeans.Params): Unit = {
    def fit(rule: Long => Boolean) =
      KMeans.fitEncodedWith(df, "vec", identity, p, None, rule)
    assertSame(fit(inProcess), fit(distributed))
  }

  test("k-means at nredo 2 over a hash subsample: in-process == distributed rounds") {
    // 2000 rows > k × maxPointsPerCentroid = 800: both paths subsample
    fitBoth(gridVecs(2000, 8, 1),
      KMeans.Params(k = 8, niter = 4, nredo = 2, maxPointsPerCentroid = 100))
  }

  test("spherical k-means: in-process == distributed rounds") {
    fitBoth(gridVecs(1500, 8, 2), KMeans.Params(k = 6, niter = 4, spherical = true))
  }

  test("fitEncoded over int codes: in-process == distributed rounds") {
    import spark.implicits._
    val codes = gridRows(1500, 8, 3).map(r => Tuple1(r.toSeq)).toDF("code")
    val decode = (c: org.apache.spark.sql.Column) => transform(c, x => (x / 8).cast("float"))
    val p = KMeans.Params(k = 8, niter = 4, nredo = 2)
    def fit(rule: Long => Boolean) =
      KMeans.fitEncodedWith(codes, "code", decode, p, None, rule)
    assertSame(fit(inProcess), fit(distributed))
  }

  test("PQ codebooks: in-process == distributed rounds") {
    val df = gridVecs(2000, 8, 4)
    def train(rule: Long => Boolean) =
      Pq.trainWith(df, "vec", 4, 16, 5, 99L, rule).codebooks.map(_.map(_.toSeq).toSeq).toSeq
    assert(train(inProcess) == train(distributed))
  }

  test("two-level clustering: in-process == distributed rounds") {
    val df = gridVecs(2000, 8, 7)
    def fit(rule: Long => Boolean) =
      TwoLevelClustering.fitWith(df, "vec", 12, 3, 4, 5L, rule).map(_.toSeq).toSeq
    assert(fit(inProcess) == fit(distributed))
  }

  test("two-level clustering pads a cell with fewer rows than its share: nlist centroids") {
    import spark.implicits._
    // 3 blobs of 200 points and 2 far points: level 1 gives the far
    // pair a cell of its own, 2 rows short of its share of 4
    val rnd = new scala.util.Random(11)
    val centers = Seq(Array(0f, 0f, 0f, 0f), Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f))
    val pts = centers.flatMap(c => Seq.fill(200)(c.map(_ + rnd.nextFloat()))) ++
      Seq.fill(2)(Array.fill(4)(1000f + rnd.nextFloat()))
    val df = pts.map(Tuple1(_)).toDF("vec")
    for (rule <- Seq(inProcess, distributed)) {
      val cents = TwoLevelClustering.fitWith(df, "vec", 16, 5, 5, 1234L, rule)
      assert(cents.length == 16)
      assert(cents.count(_.forall(_ > 900f)) >= 2, "the far pair's cell keeps its codewords")
    }
  }

  test("Lloyd.nearest equals the plain double loop, ties to the lower index") {
    val rnd = new scala.util.Random(7)
    for (dsub <- Seq(1, 3, 4, 7, 8, 12); _ <- 0 until 50) {
      val x = Array.fill(dsub + 5)(rnd.nextFloat() * 4 - 2)
      // 16 codewords, each drawn twice, so ties must go to the first
      val words = Array.fill(16)(Array.fill(dsub)(rnd.nextFloat() * 4 - 2))
      val cb = graft.core.Lloyd.flatten(words ++ words)
      val dist = (words ++ words).map(w =>
        w.indices.foldLeft(0.0) { (s, t) => val d = x(5 + t).toDouble - w(t); s + d * d })
      assert(graft.core.Lloyd.nearest(x, 5, cb, dsub) == dist.indexOf(dist.min))
    }
  }

  test("KMeans.fit on 2000 rows at k 8, niter 5 launches at most 3 jobs") {
    val df = gridVecs(2000, 8, 5)
    val (m, jobs) = jobsLaunchedBy(KMeans.fit(df, "vec", KMeans.Params(k = 8, niter = 5)))
    assert(m.sizes.sum == 2000)
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("Pq.train launches as many jobs at niter 1 as at niter 6") {
    val df = gridVecs(2000, 8, 6)
    val (_, one) = jobsLaunchedBy(Pq.train(df, "vec", 4, 16, niter = 1))
    val (_, six) = jobsLaunchedBy(Pq.train(df, "vec", 4, 16, niter = 6))
    assert(one == six, s"niter 1: $one jobs, niter 6: $six jobs")
  }

  test("TwoLevelClustering.fit launches as many jobs at niter2 1 as at niter2 6") {
    val df = gridVecs(2000, 8, 8)
    val (_, one) = jobsLaunchedBy(TwoLevelClustering.fit(df, "vec", 16, niter2 = 1))
    val (_, six) = jobsLaunchedBy(TwoLevelClustering.fit(df, "vec", 16, niter2 = 6))
    assert(one == six, s"niter2 1: $one jobs, niter2 6: $six jobs")
  }
}
