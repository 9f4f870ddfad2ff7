package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{Lloyd, NearestCentroid}

/** Two-level clustering for large nlist (contrib/clustering.py:24-119
  * two_level_clustering / train_ivf_index_with_2level): cluster to
  * √nlist coarse groups, then refine all groups at once through
  * [[graft.core.Lloyd]] (the level-1 cells are its groups), in-process
  * up to its bound, else one Spark job per round for every group — so
  * nlist=10⁵ costs the same number of jobs as nlist=10. A group short
  * of its k2 init rows is padded with perturbed copies as k-means pads
  * (an empty one from its level-1 centroid): a fit always returns
  * nlist centroids. */
object TwoLevelClustering {

  /** Returns nlist centroids (concatenated group codebooks). */
  def fit(df: DataFrame, vecCol: String, nlist: Int,
      niter1: Int = 5, niter2: Int = 5, seed: Long = 1234L): Array[Array[Float]] =
    fitWith(df, vecCol, nlist, niter1, niter2, seed, Lloyd.inProcess)

  /** [[fit]] with the rule that picks in-process rounds for the given
    * row count (tests pin either path). */
  private[graft] def fitWith(df: DataFrame, vecCol: String, nlist: Int,
      niter1: Int, niter2: Int, seed: Long,
      inProcess: Long => Boolean): Array[Array[Float]] = {
    val k1 = math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val level1 = KMeans.fit(df, vecCol, KMeans.Params(k = k1, niter = niter1, seed = seed)).centroids
    val d = level1(0).length

    // per-group sub-cluster counts (distribute nlist over groups)
    val k2 = Array.tabulate(k1)(g => nlist / k1 + (if (g < nlist % k1) 1 else 0))
    def init(first: Array[Array[Array[Float]]]): Array[Array[Float]] = Array.tabulate(k1) { g =>
      Lloyd.flatten(KMeans.pad(if (first(g).isEmpty) Array(level1(g)) else first(g), k2(g)))
    }

    val assigned = df.select(col(vecCol).as("_v")).filter(col("_v").isNotNull)
      .select(shim.col(NearestCentroid(shim.expr(col("_v")), level1)).getField("list_no").as("_g"),
        col("_v"))
    val rows = assigned.count()
    val codebooks =
      if (inProcess(rows)) {
        val xs = shim.collectRows(assigned.select(col("_g"), xxhash64(col("_v"), lit(seed)), col("_v")))
          .map(r => (r.getInt(0), r.getLong(1), r.getArray(2).toFloatArray()))
        val groups = xs.groupBy(_._1)
        init(Lloyd.firstInHashOrder(xs, k2)).zipWithIndex.map { case (cb0, g) =>
          Lloyd.train(groups.get(g).fold(Array.empty[Array[Float]])(_.map(_._3)), 0, d, cb0, niter2)
        }
      } else {
        val train = new Lloyd.Distributed(assigned, rows)
        try train.train(train.cached, init(Lloyd.firstInHashOrder(train.cached, k2, seed)), d, niter2)
        finally train.close()
      }
    codebooks.flatMap(Lloyd.unflatten(_, d))
  }
}
