package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{Metric, TopKAgg}
import graft.cluster.KMeans
import graft.functions.vec_dist

/** IVF (inverted-file) index: the reference's scale path
  * (faiss/IndexIVF.cpp) re-expressed as a DataFrame of (id, vec,
  * list_no) rows plus a small centroid table.
  *
  * Build = k-means on a subsample + assign (IndexIVF::train /
  * add_core, IndexIVF.cpp:254). Search = per-query coarse quantization
  * to nprobe lists (broadcast-size centroid table embedded in the
  * plan) + equi-join on list_no against only the probed lists +
  * per-query top-k (IndexIVF::search, IndexIVF.cpp:302-683). A saved
  * index stores its lists as list_no-sorted parquet files, the analog
  * of the reference's one-file `OnDiskInvertedLists`. Where the store
  * has more than one split or more than one page of list_no, a search's
  * probe filter ([[Probes.listFilter]], through [[Probes.pruned]]) is
  * pushed into the scan, and parquet skips the row groups and pages
  * that hold only unprobed lists. Every split of the store is still
  * planned and has its footer read, and a page shared with a probed
  * list is read whole. PlanSpec pins it on 100 lists of one page each
  * in one split: 32 scattered probed lists read their 32 000 of
  * 100 000 rows. A store of one split and one page, where parquet could
  * skip nothing, gets no filter: the probe lookup drops the unprobed
  * lists, and one compiled scan serves every probe set.
  */
class IvfIndex(
    val d: Int,
    val metric: String,
    val nlist: Int,
    val centroids: Array[Array[Float]],
    /** (id: long, vec: array<float>, list_no: int) */
    val invlists: DataFrame) {

  import IvfIndex._

  /** Stable id for the executor-side graph coarse-quantizer cache:
    * every task of every search over THIS index reuses one graph. */
  private val graphCacheKey = java.util.UUID.randomUUID().toString

  /** Per-query probe lists: (qid, qvec, pr, list_no) ([[Probes.rows]]),
    * and with `local` the probed-list scan set. `coarse =
    * Some(HnswCoarse/NsgCoarse)` routes the coarse quantization
    * through a graph walk over the centroids (the reference's
    * `IVF{n}_HNSW{m}` / `IVF{n}_NSG{R}` coarse grammar) — the scale
    * path when nlist is large enough that the exact O(nlist) argmin
    * per row dominates; budget >= nlist degenerates to exact.
    *
    * `local = true` (small query sets) coarse-quantizes on the driver
    * ([[Probes.local]]) and returns the probed lists; `false`
    * (corpus-sized query sets) keeps the quantizer in the plan, runs
    * no job and returns no scan set. */
  private def probes(queries: DataFrame, nprobe: Int,
      queryId: String, queryVec: String,
      coarse: Option[Probes.CoarseQuant],
      local: Boolean): (DataFrame, Option[Array[Int]]) = {
    val (q, sel, probed) =
      if (!local) (queries, Probes.selExpr(col(queryVec), centroids, nprobe,
        metric, coarse, graphCacheKey), None)
      else {
        val (lq, ids) = Probes.local(queries, queryId, queryVec, centroids,
          nprobe, metric, coarse, graphCacheKey)
        (lq, col("_sel"), Some(ids))
      }
    (Probes.rows(q, Seq(col(queryId), col(queryVec)), ranked = true, sel), probed)
  }

  /** Distinct lists any query probes at this nprobe (the scan set). */
  def probedListNos(queries: DataFrame, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): Array[Int] =
    Probes.local(queries, queryId, queryVec, centroids, nprobe, metric,
      coarse, graphCacheKey)._2

  /** Each probed list's minimum probe rank over the query set at
    * nprobe=npMax — reconstructs the probed-list union of ANY smaller
    * nprobe (list in scan set at np iff min rank < np) without
    * re-running the coarse quantization per operating point. Read on
    * the driver from the collected probe arrays. */
  def probedListMinRank(queries: DataFrame, npMax: Int,
      queryId: String = "qid", queryVec: String = "qvec"): Array[(Int, Int)] = {
    val (q, _) = Probes.local(queries, queryId, queryVec, centroids, npMax,
      metric, None, graphCacheKey)
    q.select(col("_sel.list_no")).collect().iterator
      .flatMap(r => if (r.isNullAt(0)) Nil else r.getSeq[Int](0).zipWithIndex)
      .toSeq.groupMapReduce(_._1)(_._2)(math.min).toArray
  }

  /** kNN search over the probed lists (search_preassigned,
    * faiss/IndexIVF.cpp:398-683). Output (qid, rank, id, dist).
    * `filter` = IDSelector pushed inside the scan (IndexIVF.h:377).
    * `maxCodes` = the per-query TOTAL scan budget consumed in
    * probe-rank order (faiss/IndexIVF.h:67-72; see [[Probes.budget]]).
    *
    * @param broadcastQueries true (default) coarse-quantizes on the
    *        driver (small query sets): each list row looks its probe
    *        rows up inside the scan, or, past the broadcast threshold,
    *        the probe table broadcasts ([[Probes.scan]]); false leaves
    *        it to a shuffle equi-join on list_no — the right plan when
    *        the query set itself is huge (e.g. a full-corpus self-join
    *        for dedup). Unprobed lists are dropped either way: by the
    *        lookup or the join, and before them by the filter pushed
    *        into the scan where the read can skip rows
    *        ([[Probes.pruned]]). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      filter: Option[Column] = None,
      maxCodes: Option[Int] = None,
      withCentroid: Boolean = false,
      broadcastQueries: Boolean = true,
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    // Big-batch sets (broadcastQueries=false, corpus-sized queries):
    // the probed union approaches every list, the filter would prune
    // nothing, and its collect would force an eager full
    // coarse-quantization job inside a plan builder — so plan
    // construction launches ZERO jobs on that path (PlanSpec pins it).
    // A maxCodes cut drops lists from the probe table; the scan set
    // stays the probed lists, and the join drops the cut ones.
    val cand = candidates(queries, nprobe, queryId, queryVec, filter, maxCodes,
      coarse, broadcastQueries, "_dist")
    val asc = Metric.ascending(metric)
    if (withCentroid) {
      // search_and_return_centroids (faiss/IVFlib.h:74): carry list_no
      // through the top-k by packing it into the id (id * nlist + list)
      val packed = cand.select(col(queryId),
        (col("id") * nlist + col("list_no")).as("_pid"), col("_dist"))
      TopKAgg.ranked(packed, Seq(col(queryId)), col("_dist"), col("_pid"), k, asc)
        .select(col(queryId), col("rank"),
          // integer floor-div/mod round-trip: `/` is double division
          // and loses precision for id*nlist near 2^53
          expr(s"id div $nlist").cast("long").as("id"),
          pmod(col("id"), lit(nlist.toLong)).cast("int").as("list_no"),
          col("dist"))
    } else TopKAgg.ranked(cand, Seq(col(queryId)), col("_dist"), col("id"), k, asc)
  }

  /** The scanned candidates of [[search]] and [[rangeSearch]]:
    * (queryId, list_no, id, `dist`) over each query's probed lists,
    * after the maxCodes cut ([[Probes.budget]], over list sizes taken
    * before the IDSelector `filter`, as the reference counts raw
    * list_size) and the filter. */
  private def candidates(queries: DataFrame, nprobe: Int, queryId: String,
      queryVec: String, filter: Option[Column], maxCodes: Option[Int],
      coarse: Option[Probes.CoarseQuant], broadcastQueries: Boolean,
      dist: String): DataFrame = {
    val (pr0, probed) = probes(queries, nprobe, queryId, queryVec, coarse,
      broadcastQueries)
    val pr = maxCodes.fold(pr0)(Probes.budget(pr0, Probes.pruned(invlists, probed), _, queryId))
    Probes.scan(invlists, pr, probed, filter = filter)
      .select(col(queryId), col("list_no"), col("id"),
        vec_dist(col(queryVec), col("vec"), metric).as(dist))
  }

  /** search_preassigned with CALLER-PROVIDED probe assignments
    * (faiss/IndexIVF.h:377 — the quantizer-already-ran entry point
    * used by IVFlib's big-batch search and index-merge tooling). The
    * coarse quantization step is skipped entirely: `probesDf` is a
    * (queryId, list_no) table naming the lists each query scans.
    * The same [[Probes.scan]] as [[search]] — the probed-list union
    * statically prunes the invlists read, the probe table broadcasts,
    * one partial-top-k exchange. `broadcastProbes = false` is the
    * big-batch form ([[search]]'s broadcastQueries contract): probesDf
    * may be corpus-sized, so no driver enumeration of the probed set
    * and a shuffle equi-join instead of a broadcast. */
  def searchPreassigned(queries: DataFrame, probesDf: DataFrame, k: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      filter: Option[Column] = None,
      broadcastProbes: Boolean = true): DataFrame =
    TopKAgg.ranked(preassignedCandidates(queries, probesDf, queryId, queryVec,
      filter, broadcastProbes), Seq(col(queryId)), col("_dist"), col("id"), k,
      Metric.ascending(metric))

  /** Shared scan head of the preassigned entry points: statically
    * prune the invlists to the probed set (derived from probesDf
    * ALONE — enumerating it must not execute the queries side), then
    * the broadcast equi-join + distance. With `broadcastProbes=false`
    * (corpus-sized probesDf) nothing crosses the driver: the shuffle
    * equi-join on list_no is the prune. */
  private def preassignedCandidates(queries: DataFrame, probesDf: DataFrame,
      queryId: String, queryVec: String, filter: Option[Column],
      broadcastProbes: Boolean = true): DataFrame = {
    val pr = queries.select(col(queryId), col(queryVec))
      .join(probesDf.select(col(queryId), col("list_no")), queryId)
    // a broadcastable probesDf is small: its list_no column crosses
    // the driver whole and is deduplicated there
    val probed = Option.when(broadcastProbes)(
      probesDf.select(col("list_no").cast("int")).collect().map(_.getInt(0)).distinct)
    Probes.scan(invlists, pr, probed, filter = filter)
      .select(col(queryId), col("id"),
        vec_dist(col(queryVec), col("vec"), metric).as("_dist"))
  }

  /** Operating-point sweep (faiss ParameterSpace::explore,
    * AutoTune.cpp:446-521): the per-query top-k at EVERY requested
    * nprobe, from ONE scan at max(nprobes). Each candidate carries the
    * probe rank `pr` of its list for that query, so the nprobe=j
    * candidate set is exactly `pr < j` — searching the sweep points
    * one by one would rescan the same lists |nprobes| times for
    * identical results (the reference re-runs the index per operating
    * point because its scan is in-memory; at 100 TB each rescan is a
    * full pruned read, so deriving all points from one read is the
    * dataflow-correct shape). Output (np, qid, rank, id, dist),
    * bit-identical per np to `search(queries, k, np)`. */
  def searchSweep(queries: DataFrame, k: Int, nprobes: Seq[Int],
      queryId: String = "qid", queryVec: String = "qvec",
      broadcastQueries: Boolean = true): DataFrame = {
    val sess = queries.sparkSession
    // same contract as [[search]]: a corpus-sized query set must not
    // drive an eager probed-set collect — the equi-join is the prune
    val (pr, probed) = probes(queries, nprobes.max, queryId, queryVec, None,
      broadcastQueries)
    val cand = Probes.scan(invlists, pr, probed)
      .select(col(queryId), col("pr"), col("id"),
        vec_dist(col(queryVec), col("vec"), metric).as("_dist"))
    import sess.implicits._
    // tiny nprobe axis: broadcast theta-join fans each candidate out to
    // only the sweep points whose probe budget includes its list
    val nps = broadcast(nprobes.toDF("np"))
    TopKAgg.ranked(cand.join(nps, col("pr") < col("np")), Seq(col("np"), col(queryId)),
      col("_dist"), col("id"), k, Metric.ascending(metric))
  }

  /** IVF range search (faiss/IndexIVF.cpp:690-795): same pruning,
    * radius predicate instead of top-k. `filter` is the IDSelector
    * pushed inside the scan and `maxCodes` the per-query TOTAL scan
    * budget in probe-rank order ([[Probes.budget]]) —
    * range_search_with_parameters (faiss/IVFlib.h:46) takes the
    * identical knobs search_with_parameters does. */
  def rangeSearch(queries: DataFrame, radius: Double, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      filter: Option[Column] = None,
      maxCodes: Option[Int] = None,
      coarse: Option[Probes.CoarseQuant] = None,
      broadcastQueries: Boolean = true): DataFrame = {
    // static prune only for small query sets; see [[search]]
    val pred = if (Metric.ascending(metric)) col("dist") < radius else col("dist") > radius
    candidates(queries, nprobe, queryId, queryVec, filter, maxCodes, coarse,
      broadcastQueries, "dist")
      .select(col(queryId), col("id"), col("dist")).filter(pred)
  }

  /** Which list each base id landed in (search_centroid,
    * faiss/IVFlib.h:62) — list_no is just a column here. */
  def listAssignments: DataFrame = invlists.select(col("id"), col("list_no"))

  /** range_search_preassigned (contrib/ivf_tools.py:57): radius
    * search over CALLER-PROVIDED (queryId, list_no) probe
    * assignments — the quantizer never runs; the in-radius filter
    * applies below any aggregation. Output (qid, id, dist). */
  def rangeSearchPreassigned(queries: DataFrame, probesDf: DataFrame,
      radius: Double, queryId: String = "qid",
      queryVec: String = "qvec",
      broadcastProbes: Boolean = true): DataFrame =
    preassignedCandidates(queries, probesDf, queryId, queryVec, None,
      broadcastProbes)
      .filter(if (Metric.ascending(metric)) col("_dist") < radius
        else col("_dist") > radius)
      .select(col(queryId), col("id"), col("_dist").as("dist"))

  /** add_preassigned (contrib/ivf_tools.py:9): append vectors whose
    * list assignment was computed externally — no quantizer run. The
    * assignment IS a `list_no` column here, so this is a bare union;
    * exposed as the explicit API the reference's big-batch ingest
    * tooling expects. Immutable rewrite like [[mergeFrom]]. */
  def addPreassigned(df: DataFrame, idCol: String = "id",
      vecCol: String = "vec", listCol: String = "list_no"): IvfIndex =
    new IvfIndex(d, metric, nlist, centroids,
      invlists.unionByName(df.select(col(idCol).as("id"),
        col(vecCol).as("vec"),
        // fail fast on an out-of-range assignment (add_core's list-id
        // assert): a vector stored in a list no probe set can reach
        // would be silent recall loss. Plan-embedded assertion — no
        // extra validation job, one comparison per ingested row.
        when(col(listCol) >= 0 && col(listCol) < nlist,
          col(listCol).cast("int"))
          .otherwise(raise_error(concat(
            lit(s"add_preassigned: list_no out of [0, $nlist): "),
            col(listCol).cast("string"))))
          .as("list_no"))))

  /** merge_from (faiss/Index.h:273-282): same centroids required
    * (check_compatible_for_merge analog = same nlist/d/metric); ids
    * optionally shifted. */
  def mergeFrom(other: IvfIndex, addId: Long = 0L): IvfIndex = {
    require(other.d == d && other.metric == metric && other.nlist == nlist,
      "incompatible indexes (d/metric/nlist differ)")
    new IvfIndex(d, metric, nlist, centroids,
      invlists.unionByName(
        other.invlists.withColumn("id", col("id") + addId)))
  }

  /** remove_ids (faiss/Index.h:164-167) as an immutable rewrite. */
  def removeIds(ids: DataFrame): IvfIndex =
    new IvfIndex(d, metric, nlist, centroids,
      invlists.join(broadcast(ids), Seq("id"), "left_anti"))

  /** Kept as a named entry point: `vecbench` calls it by name. */
  def save(path: String): Unit = graft.io.IndexIO.save(this, path)
}

object IvfIndex {

  /** Train + add (IndexIVF lifecycle steps 2-3, SURVEY §3.1).
    * `centroids0` replaces the internal k-means with a caller-supplied
    * trained quantizer — the distributed_ondisk shard-build step
    * (benchs/distributed_ondisk: every slice populates its own
    * invlists against ONE shared centroid table, so the later merge
    * is a write, never a recluster). Assignment runs through the same
    * NearestCentroid expression `KMeans.Model.assign` uses, so a
    * shard build and a single build place every vector identically. */
  def build(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      metric: String = "l2sq", niter: Int = 10, seed: Long = 1234L,
      centroids0: Array[Array[Float]] = null): IvfIndex = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val centroids =
      if (centroids0 != null) {
        require(centroids0.length == nlist,
          s"centroids0 has ${centroids0.length} rows, nlist = $nlist")
        centroids0
      } else KMeans.fit(data, "vec",
        KMeans.Params(k = nlist, niter = niter, seed = seed)).centroids
    val d = centroids.head.length
    val assigned = data
      .withColumn("_a", shim.col(graft.core.NearestCentroid(
        shim.expr(col("vec")), centroids, "l2sq")))
      .select(col("id"), col("vec"), col("_a.list_no").as("list_no"))
    new IvfIndex(d, metric, nlist, centroids, assigned)
  }

  /** merge_ondisk (contrib/ondisk.py:13): union many indexes that
    * share ONE trained quantizer into a single list_no-sorted
    * on-disk store and return the merged index backed by it — the
    * shard-build-then-merge lifecycle of corpus-scale ingestion (each
    * worker populates its own invlists against the common centroids;
    * the merge is a write, never a recluster). The store is a FULL
    * save (invlists + meta sidecar), so a later session reopens it
    * with [[graft.io.IndexIO.load]]; the returned index reads from
    * disk, so searches skip its unprobed lists exactly like any
    * loaded one. */
  def mergeOnDisk(indexes: Seq[IvfIndex], path: String): IvfIndex = {
    require(indexes.nonEmpty, "no indexes to merge")
    val h = indexes.head
    indexes.tail.foreach { i =>
      require(i.d == h.d && i.metric == h.metric && i.nlist == h.nlist,
        "merge_ondisk requires a common trained quantizer")
      require(java.util.Arrays.deepEquals(
          i.centroids.asInstanceOf[Array[AnyRef]],
          h.centroids.asInstanceOf[Array[AnyRef]]),
        "merge_ondisk requires IDENTICAL centroids (one shared quantizer)")
    }
    val spark = h.invlists.sparkSession
    graft.io.IndexIO.save(new IvfIndex(h.d, h.metric, h.nlist, h.centroids,
      indexes.map(_.invlists).reduce(_ unionByName _)), path)
    graft.io.IndexIO.loadAs[IvfIndex](spark, path)
  }
}
