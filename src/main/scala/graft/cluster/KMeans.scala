package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{Lloyd, NearestCentroid}

/** FAISS-semantics Lloyd k-means (faiss/Clustering.cpp:271-560) as a
  * DataFrame fit.
  *
  * Like faiss, a fit first caps its training sample at
  * k × maxPointsPerCentroid rows (Clustering.cpp:93); one count of the
  * input sizes it. The rounds run on the sample through
  * [[graft.core.Lloyd]] as one group, on the backend its one rule
  * picks for the sample size; this object keeps k-means' own policy:
  * centroid = sum/cnt, empty-cluster split, optional spherical renorm
  * and integer rounding (Clustering.cpp:220-260, :65), best of nredo.
  *
  * FAISS parity notes (SURVEY.md §7 "seeded-RNG parity" non-goal):
  * subsampling to k*max_points_per_centroid (Clustering.cpp:93) and
  * init selection use a deterministic xxhash64(vec, seed) order rather
  * than faiss's RandomGenerator; empty clusters split the LARGEST
  * cluster deterministically with the same ±1/1024 perturbation
  * (Clustering.cpp:240-255). Quality metrics (objective, imbalance)
  * are comparable, exact centroids are not.
  */
object KMeans {

  case class Params(
      k: Int,
      niter: Int = 25,
      seed: Long = 1234L,
      maxPointsPerCentroid: Int = 256,  // Clustering.h:36 default
      nredo: Int = 1,
      spherical: Boolean = false,
      /** Round centroids to integers after each update
        * (post_process_centroids, Clustering.cpp:70-73 — used when
        * clustering integer-valued data, e.g. binary/lattice codes). */
      intCentroids: Boolean = false,
      metric: String = "l2sq")

  case class Model(
      centroids: Array[Array[Float]],
      objective: Double,
      iterationObjectives: Seq[Double],
      sizes: Array[Long]) {

    /** Cluster sizes skew metric (faiss imbalance_factor,
      * Clustering.cpp:49-63): k * sum(sz²) / n². 1.0 = perfectly even. */
    def imbalanceFactor: Double = {
      val n = sizes.sum.toDouble
      if (n == 0) 0.0 else sizes.length * sizes.map(s => s.toDouble * s).sum / (n * n)
    }

    /** (list_no, centroid) as a DataFrame. */
    def centroidsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("list_no", "centroid")
        .select(col("list_no"),
          col("centroid").cast("array<float>").as("centroid"))
    }

    /** Adds (list_no, dist-to-centroid) columns — search_centroid
      * (faiss/IVFlib.h:62). */
    def assign(df: DataFrame, vecCol: String): DataFrame = {
      val a = shim.col(NearestCentroid(shim.expr(col(vecCol)), centroids, "l2sq"))
      df.withColumn("_a", a)
        .withColumn("list_no", col("_a.list_no"))
        .withColumn("centroid_dist", col("_a.dist"))
        .drop("_a")
    }
  }

  /** Clustering::train_encoded (faiss/Clustering.h:100, .cpp:271):
    * k-means whose training set is CODEC-ENCODED rows — each Lloyd
    * iteration decodes inside the assign pipeline instead of
    * materializing float vectors. This is the memory-bounded train
    * path for huge train sets: the cached state is the codes
    * (codeSize bytes/row, e.g. d bytes for SQ8 vs 4d float bytes),
    * and the subsample hash keys on the code bytes. `decode` maps the
    * code column to the float vector the distance kernels consume
    * (e.g. SqVariant.decode, PqModel.decodeCol); [[fit]] is this with
    * `decode = identity`. */
  def fitEncoded(df: DataFrame, codeCol: String, decode: Column => Column,
      p: Params, init: Option[Array[Array[Float]]] = None): Model =
    fitEncodedWith(df, codeCol, decode, p, init, Lloyd.inProcess)

  /** [[fitEncoded]] with the rule that picks in-process rounds for a
    * sample of the given row count (tests pin either path). */
  private[graft] def fitEncodedWith(df: DataFrame, codeCol: String,
      decode: Column => Column, p: Params, init: Option[Array[Array[Float]]],
      inProcess: Long => Boolean): Model = {
    require(p.metric == "l2sq", "faiss trains the coarse quantizer with L2 (Clustering.cpp)")
    val codes = df.select(col(codeCol).as("_code")).filter(col("_code").isNotNull)
    val maxTrain = p.k.toLong * p.maxPointsPerCentroid
    val total = codes.count()
    // Subsample deterministically when the train set exceeds
    // k*max_points_per_centroid (Clustering.cpp:93 subsample_training_set).
    // Hash-THRESHOLD filter, not orderBy(hash).limit(n): TakeOrdered
    // merges all n sampled rows on the driver, which at nlist=10⁵ ×
    // 256 points/centroid is tens of millions of vectors through one
    // process (VERDICT r02 finding #4). The filter keeps ≈maxTrain rows
    // (binomial around the target) fully distributed; exact sample
    // counts are not a FAISS-parity goal (SURVEY §7 seeded-RNG parity).
    val sampled =
      if (total > maxTrain) {
        val buckets = 1L << 30
        val keep = math.min(buckets,
          (maxTrain.toDouble / total * buckets).toLong + 1)
        codes.filter(pmod(xxhash64(col("_code"), lit(p.seed)), lit(buckets)) < keep)
      } else codes
    // The subsample hash keys on the code VALUE, so duplicate-heavy
    // data can land every copy in (or out of) the kept range: an
    // empty or k-deficient sample is possible. The fallback is the
    // unsampled arbitrary-prefix limit, degenerate inputs only; with
    // no subsample there is nothing to fall back from.
    val fallback = if (total > maxTrain) Some(codes.limit(maxTrain.toInt)) else None
    val decoded = (t: DataFrame) => t.select(decode(col("_code")).as("vec"))
    val sampleRows = math.min(total, maxTrain)
    if (inProcess(sampleRows)) fitInProcess(sampled, fallback, decoded, p, init)
    else fitDistributed(sampled, fallback, decoded, sampleRows, p, init)
  }

  def fit(df: DataFrame, vecCol: String, p: Params,
      init: Option[Array[Array[Float]]] = None): Model =
    fitEncoded(df, vecCol, identity, p, init)

  /** One collect of the sample (decoded, with one init hash per redo),
    * then every round on the driver ([[graft.core.Lloyd]]). The driver
    * holds the sample once as floats, rows × d × 4 bytes (16 MB at the
    * 2^16-row bound and d 64, 200 MB at d 768), plus the collected rows
    * while they are converted. */
  private def fitInProcess(sampled: DataFrame, fallback: Option[DataFrame],
      decoded: DataFrame => DataFrame, p: Params,
      init: Option[Array[Array[Float]]]): Model = {
    val redos = if (init.isDefined) 0 else p.nredo
    // the sample, and per redo its rows' xxhash64(vec, seed + redo);
    // the collected rows are dropped here
    def collect(t: DataFrame): (Array[Array[Float]], Seq[Array[Long]]) = {
      val rows = shim.collectRows(decoded(t).select(col("vec") +:
        (0 until redos).map(r => xxhash64(col("vec"), lit(p.seed + r))): _*))
      (rows.map(_.getArray(0).toFloatArray()), (0 until redos).map(r => rows.map(_.getLong(1 + r))))
    }
    val first = collect(sampled)
    // the check the distributed path folds into its first init
    val (xs, hashes) = fallback.filter(_ => first._1.length < p.k).map(collect).getOrElse(first)
    val assigned = new Array[Int](xs.length)
    def round(c: Array[Array[Float]]): Lloyd.Stats = {
      val cb = Lloyd.flatten(c)
      Lloyd.assign(xs, 0, c(0).length, cb, assigned)
      Lloyd.stats(xs, 0, c(0).length, cb, assigned)
    }
    bestOf(p, redo => init.getOrElse(
      Lloyd.firstInHashOrder(xs.indices.map(i => (0, hashes(redo)(i), xs(i))), Array(p.k))(0)), round)
  }

  /** The sample stays cached as codes, decoded in every job's scan;
    * each round is one job of [[graft.core.Lloyd.Distributed]]. */
  private def fitDistributed(sampled: DataFrame, fallback: Option[DataFrame],
      decoded: DataFrame => DataFrame, sampleRows: Long, p: Params,
      init: Option[Array[Array[Float]]]): Model = {
    var train = new Lloyd.Distributed(sampled, sampleRows)
    def rows = decoded(train.cached).select(lit(0).as("_g"), col("vec").as("_v"))
    val firsts = collection.mutable.Map.empty[Int, Array[Array[Float]]]
    def initOf(redo: Int) = init.getOrElse(firsts.getOrElseUpdate(redo,
      Lloyd.firstInHashOrder(rows, Array(p.k), p.seed + redo)(0)))
    try {
      // the fallback check: a cold start's first init doubles as it, a
      // warm start (ProgressiveDimKMeans) pays one limit(k) job
      val short = fallback.isDefined &&
        (if (init.isDefined) rows.limit(p.k).count() < p.k else initOf(0).length < p.k)
      if (short) {
        train.close(); firsts.clear()
        train = new Lloyd.Distributed(fallback.get, sampleRows)
      }
      bestOf(p, initOf, c => train.round(rows, Array(Lloyd.flatten(c)), c(0).length)(0))
    } finally train.close()
  }

  /** Best-of-`nredo` ([[Params.nredo]]): the lowest final objective,
    * the earlier redo on a tie. */
  private def bestOf(p: Params, init: Int => Array[Array[Float]],
      round: Array[Array[Float]] => Lloyd.Stats): Model = {
    var best: Model = null
    for (redo <- 0 until p.nredo) {
      val m = fitOnce(p, init(redo), round)
      if (best == null || m.objective < best.objective) best = m
    }
    best
  }

  /** Lloyd rounds from `init`; `round` runs one assign + update over
    * the sample and returns its statistics. */
  private def fitOnce(p: Params, init: Array[Array[Float]],
      round: Array[Array[Float]] => Lloyd.Stats): Model = {
    // init: warm-start centroids if given (ProgressiveDimClustering),
    // else the first k rows of the hash order
    require(init.nonEmpty, "empty training set")
    var centroids = pad(init, p.k).map(c => postProcess(c, p))

    val objectives = Vector.newBuilder[Double]
    var lastObjective = 0.0
    var sizes = new Array[Long](p.k)

    for (_ <- 0 until p.niter) {
      val d = centroids(0).length
      val st = round(centroids)
      objectives += st.objective
      lastObjective = st.objective
      val counts = st.counts
      val mean = Lloyd.unflatten(Lloyd.means(Lloyd.flatten(centroids), st, d), d)
      val next = Array.tabulate(p.k)(j =>
        if (counts(j) > 0) postProcess(mean(j), p) else null)
      // split_clusters (Clustering.cpp:220-260): each empty cluster takes
      // a perturbed copy of the (deterministically) largest cluster's
      // centroid; both get half its size for subsequent splits.
      for (j <- 0 until p.k if next(j) == null) {
        val big = counts.indices.maxBy(counts)
        next(j) = perturb(next(big), j)
        counts(j) = counts(big) / 2
        counts(big) -= counts(j)
      }
      centroids = next
      sizes = counts
    }
    Model(centroids, lastObjective, objectives.result(), sizes)
  }

  /** Fewer distinct points than k: k perturbed copies cycling through `c`. */
  private[cluster] def pad(c: Array[Array[Float]], k: Int): Array[Array[Float]] =
    if (c.length >= k) c else Array.tabulate(k)(i => perturb(c(i % c.length), i))

  /** faiss split perturbation (Clustering.cpp:247-252): scale by
    * (1 ± EPS) with sign alternating on dim parity, EPS = 1/1024. */
  private def perturb(c: Array[Float], salt: Int): Array[Float] = {
    val eps = 1f / 1024f
    Array.tabulate(c.length) { i =>
      if (((i + salt) & 1) == 1) c(i) * (1 + eps) else c(i) * (1 - eps)
    }
  }

  private def renorm(c: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
    val inv = if (s > 0) (1.0 / math.sqrt(s)) else 1.0
    c.map(x => (x * inv).toFloat)
  }

  /** post_process_centroids (Clustering.cpp:65-74): spherical renorm,
    * then optional integer rounding. */
  private def postProcess(c: Array[Float], p: Params): Array[Float] = {
    val c1 = if (p.spherical) renorm(c) else c
    if (p.intCentroids) c1.map(x => math.round(x).toFloat) else c1
  }
}
