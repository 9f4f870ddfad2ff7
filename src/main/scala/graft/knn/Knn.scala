package graft.knn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{topk, vec_dist}
import graft.core.{Metric, TopKAgg}

/** Exact brute-force similarity search — the Spark re-expression of
  * IndexFlat::search (faiss/IndexFlat.cpp:25-66) and the index-free
  * array API faiss.knn (faiss/python/extra_wrappers.py:176).
  *
  * Physical shape: broadcast the (small) query side, stream the
  * (huge) base side through a BroadcastNestedLoopJoin, evaluate the
  * codegen'd distance expression, and reduce with the partial top-k
  * aggregate. Per-partition heaps + merge is exactly faiss's
  * per-thread HeapResultHandler + heap merge
  * (faiss/impl/ResultHandler.h:25, faiss/utils/Heap.h), and the only
  * shape that scales: the base table is never shuffled, only ≤ k rows
  * per (query, partition) move.
  */
object Knn {

  /** Top-k join: for each row of `queries`, the k nearest rows of
    * `base` under `metric`. Output long format:
    * (qid, rank [1-based], id, dist), ordered best-first with ties
    * broken on ascending id.
    *
    * @param filter optional predicate over base columns pushed below
    *               the top-k (faiss IDSelector / SearchParameters::sel,
    *               faiss/impl/IDSelector.h:21, Index.h:53-55).
    */
  def knnJoin(
      queries: DataFrame, base: DataFrame, k: Int,
      metric: String = "l2sq", metricArg: Double = 0.0,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec",
      filter: Option[Column] = None): DataFrame = {
    val filteredBase = filter.map(base.filter).getOrElse(base)
    val dist = vec_dist(col(queryVec), col(baseVec), metric, metricArg)
    ranked(filteredBase.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId), dist.as("_dist")),
      k, metric, queryId, baseId)
  }

  /** The ranked tail over `cand`'s (queryId, baseId, _dist), output
    * (queryId, rank, baseId, dist). */
  private def ranked(cand: DataFrame, k: Int, metric: String,
      queryId: String, baseId: String): DataFrame =
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col(baseId), k,
      Metric.ascending(metric))
      .select(col(queryId), col("rank"), col("id").as(baseId), col("dist"))

  /** 1-NN assignment (Index::assign, faiss/Index.h:158): returns
    * (qid, id, dist) of the single nearest base row. Uses the k=1
    * bounded-heap aggregate — ObjectHashAggregate with partial
    * map-side combine. (A min-of-struct formulation reads nicer but
    * Spark plans struct min/max as SortAggregate, which sorts the
    * whole |base|×|queries| cross product — the SingleBestResultHandler
    * heap shape avoids any sort.) */
  def assign(
      queries: DataFrame, base: DataFrame,
      metric: String = "l2sq", metricArg: Double = 0.0,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec"): DataFrame = {
    val asc = Metric.ascending(metric)
    val dist = vec_dist(col(queryVec), col(baseVec), metric, metricArg)
    base.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId), dist.as("_dist"))
      .groupBy(col(queryId))
      .agg(topk(col("_dist"), col(baseId), 1, asc).as("_tk"))
      .select(col(queryId), explode(col("_tk")).as("_r"))
      .select(col(queryId), col("_r.id").as(baseId), col("_r.dist").as("dist"))
  }

  /** Range search (Index::range_search, faiss/Index.h:145-150,
    * IndexFlat.cpp:50-66): all base rows with dist < radius (distances)
    * or dist > radius (similarities, faiss convention for IP). Output
    * long format (qid, id, dist) — the exploded RangeSearchResult
    * (faiss/impl/AuxIndexStructures.h:30); `lims` is just a groupBy
    * count. */
  def rangeJoin(
      queries: DataFrame, base: DataFrame, radius: Double,
      metric: String = "l2sq", metricArg: Double = 0.0,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec",
      filter: Option[Column] = None): DataFrame = {
    val filteredBase = filter.map(base.filter).getOrElse(base)
    val dist = vec_dist(col(queryVec), col(baseVec), metric, metricArg)
    val pred = if (Metric.ascending(metric)) col("_dist") < radius else col("_dist") > radius
    filteredBase.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId), dist.as("_dist"))
      .filter(pred)
      .select(col(queryId), col(baseId), col("_dist").as("dist"))
  }

  /** knnJoin for LARGE query sets (too big to broadcast whole): the
    * query table is processed in `blocks` hash-blocks, each small
    * enough to broadcast; per-block results are unioned. Wall-clock =
    * blocks sequential scans of base (each fully parallel) — the same
    * trade FAISS's blocked BLAS search makes (bs_x blocks,
    * utils/distances.cpp:235). For large-Q AND the base pre-indexed,
    * prefer IvfIndex.search with broadcastQueries=false (shuffle join
    * on list_no) instead. */
  def knnJoinBlocked(
      queries: DataFrame, base: DataFrame, k: Int, blocks: Int,
      metric: String = "l2sq", metricArg: Double = 0.0,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec"): DataFrame = {
    require(blocks > 0)
    (0 until blocks).map { bI =>
      knnJoin(queries.filter(pmod(xxhash64(col(queryId)), lit(blocks)) === bI),
        base, k, metric, metricArg, queryId, queryVec, baseId, baseVec)
    }.reduce(_ unionByName _)
  }

  /** Full pairwise distance matrix (faiss pairwise_L2sqr,
    * utils/distances.h:49; python pairwise_distances,
    * extra_wrappers.py:58). */
  def pairwise(
      queries: DataFrame, base: DataFrame,
      metric: String = "l2sq", metricArg: Double = 0.0,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec"): DataFrame =
    base.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId),
        vec_dist(col(queryVec), col(baseVec), metric, metricArg).as("dist"))

  /** kNN restricted to per-query candidate id lists
    * (knn_L2sqr_by_idx / knn_inner_products_by_idx,
    * faiss/utils/distances.h:309,330). `candidates` has columns
    * (qid, id); the search space per query is its candidate set —
    * an equi-join instead of a cross join. */
  def knnByIdx(
      queries: DataFrame, base: DataFrame, candidates: DataFrame, k: Int,
      metric: String = "l2sq", metricArg: Double = 0.0,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec"): DataFrame = {
    val cand = candidates.join(base, baseId)               // (qid, id, vec)
      .join(broadcast(queries), queryId)                   // + qvec
    ranked(cand.select(col(queryId), col(baseId),
        vec_dist(col(queryVec), col(baseVec), metric, metricArg).as("_dist")),
      k, metric, queryId, baseId)
  }
}
