package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, explode, inline, length, posexplode, size, when}
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.sql.graft.shim
import graft.core.{CentroidLookup, ProbeLookup, ProbeTable}

/** Driver-side handling of IVF probe plans (the (qid, …, list_no)
  * coarse-assignment output of a search's query side).
  *
  * A small-batch search coarse-quantizes on the driver, as
  * IndexIVF::search runs its quantizer in-process (faiss/IndexIVF.cpp:330)
  * before search_preassigned (:341): query rows and their ranked probe
  * arrays cross the driver ([[local]]), and the probed list ids read
  * from them statically prune the invlists scan where the read can skip
  * rows ([[pruned]]). Every family selects
  * its probes with one such selector column: IMI's cell pairs
  * ([[graft.core.NearestCellsImi]], the in-process MinSumK of
  * MultiIndexQuantizer2::search) and the binary IVF's Hamming probes
  * (nearest centroids over the unpacked bits) included.
  *
  * It also holds the head of every IVF-family scan, the analog of the
  * reference's one IndexIVF::search_preassigned loop: [[rows]] explodes
  * the ranked probe arrays into probe rows, and [[scan]] prunes the
  * lists to the probed ones and joins the probe rows. A family adds
  * only its distance, and [[graft.core.TopKAgg.ranked]] is the tail.
  *
  * Over [[local]]'s rows a small batch's probe side stays on the
  * driver, as the reference's scan keeps it in process: a family
  * attaches each list's centroid by projection ([[centroid]]), so the
  * probe explode ([[rows]]) and the per-probe columns (residuals, LUTs,
  * query codes) are generators and projections over local rows, which
  * [[scan]] evaluates on the driver and looks up inside the list scan
  * instead of broadcasting them. The driver so builds one row per
  * (query, probed list) with the family's per-probe columns: nq ·
  * nprobe rows, the rows a broadcast of the probe side materialized on
  * the driver before. It stops once they pass
  * `spark.sql.autoBroadcastJoinThreshold` (at once when that is -1),
  * and the probe side is then computed and broadcast by Spark as
  * before. */
object Probes {

  /** One row per (query, probed list) of the ranked probe array `sel`
    * ([[selExpr]]-shaped; by default the `_sel` column of a [[local]]
    * frame): the `keep` columns of `q`, then with `ranked` the 0-based
    * probe rank `pr` (closest list first, so a sweep keeps the
    * nprobe = j set as `pr < j`), then `list_no`. The probe explode of
    * every IVF-family search (search_preassigned's per-query list
    * loop, faiss/IndexIVF.cpp:398). */
  def rows(q: DataFrame, keep: Seq[Column], ranked: Boolean = false,
      sel: Column = col("_sel")): DataFrame = {
    val x = q.select(keep :+ (if (ranked) posexplode(sel).as(Seq("_pr", "_p"))
      else explode(sel).as("_p")): _*)
    val pr = if (ranked) Seq(col("_pr").as("pr")) else Nil
    x.select(x.columns.toSeq.dropRight(pr.size + 1).map(col) ++ pr
      :+ col("_p.list_no").as("list_no"): _*)
  }

  /** The vector of list `listNo` in a per-list table (`centroids`, or a
    * spectral hash's per-list thresholds): a projection, so a probe
    * side over local rows stays local ([[graft.core.CentroidLookup]]). */
  def centroid(listNo: Column, centroids: Array[Array[Float]]): Column =
    shim.col(CentroidLookup(shim.expr(listNo), centroids))

  /** `lists` kept to the `probed` lists of cluster column `by`
    * ([[listFilter]]) where the read can skip rows by `by`
    * (`shim.skipsRows`, on the driver with no job): cached batches, a
    * partition column (the older `by=` layout), a store read as more
    * than one split, or one whose data file holds `by` in more than one
    * parquet page. Everywhere else the lists stay whole. Every caller
    * looks the probe rows up or joins them on `by`, which drops the
    * unprobed lists' rows, so the filter only saves I/O; and its probed
    * list ids are literals in the scan's generated code, so each new
    * probe set would compile a new class. Without it one compiled scan
    * serves every probe set of the index, and an in-session index whose
    * `by` is computed by a projection evaluates it once per row, not
    * again in a filter pushed below the projection. All lists when the
    * probed set is not known on the driver (`None`: a corpus-sized query
    * set, where the equi-join is the prune). */
  def pruned(lists: DataFrame, probed: Option[Array[Int]],
      by: String = "list_no"): DataFrame =
    probed.filter(_ => shim.skipsRows(lists, by))
      .fold(lists)(p => lists.filter(listFilter(col(by), p)))

  /** max_codes probe-budget filter (IndexIVF::search_preassigned,
    * faiss/IndexIVF.cpp:586: `nscan` accumulates WHOLE scanned lists
    * in probe-rank order and the scan breaks once nscan >= max_codes)
    * — a per-query TOTAL budget, so the list at probe rank `pr` is
    * scanned iff the sizes in `lists` of the better-ranked lists sum
    * below the budget. Expressed as a prefilter of the `probeRows`
    * (queryId, `by`, pr, …): whole lists are cut before the scan join
    * — at scale this PRUNES partitions, where a per-candidate cap would
    * add an aggregate over every scanned code. */
  def budget(probeRows: DataFrame, lists: DataFrame, maxCodes: Int,
      queryId: String, by: String = "list_no"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val sizes = lists.groupBy(by).agg(count(lit(1)).as("_lsz"))
    // pr is unique per (query, list), so the running-sum frame is
    // well-defined; probed-but-empty lists carry size 0
    val w = Window.partitionBy(col(queryId)).orderBy(col("pr"))
    probeRows.join(sizes, Seq(by), "left")
      .withColumn("_csz", coalesce(col("_lsz"), lit(0L)))
      .withColumn("_before", sum(col("_csz")).over(w) - col("_csz"))
      .filter(col("_before") < maxCodes)
      .drop("_lsz", "_csz", "_before")
  }

  /** The scan head of every IVF-family search: the [[pruned]] lists
    * (filtered to the probed lists where the read can skip the others),
    * narrowed by the optional IDSelector `filter`, joined on `by` with
    * the probe rows. Each search supplies only the distance it computes
    * on the joined rows (the reference's InvertedListScanner,
    * faiss/IndexIVF.h:368-427), and [[graft.core.TopKAgg.ranked]] keeps
    * the top k.
    *
    * A probed set known on the driver means a small query set. When its
    * probe rows are local rows within the broadcast threshold, each
    * list row looks its probe rows up ([[graft.core.ProbeLookup]],
    * `inline`d into the columns the join emits: `by`, the lists', the
    * probe rows'), and lists that scan as one input split are declared
    * one partition, so the top-k merges in the scan's task with no
    * exchange. The lookup emits no row for an unprobed list, so over a
    * store that [[pruned]] leaves whole (one split of one page of `by`,
    * the shape of a small saved index) it is the only prune, and the
    * scan's generated code holds no probed list id: one compiled class
    * serves every probe set. Otherwise the probe rows broadcast and the
    * lists never shuffle. With `None` the probe rows meet the lists in a
    * shuffle equi-join. */
  def scan(lists: DataFrame, probeRows: DataFrame, probed: Option[Array[Int]],
      by: String = "list_no", filter: Option[Column] = None): DataFrame = {
    val p = pruned(lists, probed, by)
    val l = filter.fold(p)(p.filter)
    probed.flatMap(_ => lookup(probeRows, by)) match {
      case Some(probe) =>
        val one = if (shim.oneSplit(l)) l.coalesce(1) else l
        one.select((col(by) +: l.columns.toSeq.filter(_ != by).map(col)) :+ inline(probe): _*)
      case None => l.join(if (probed.isDefined) broadcast(probeRows) else probeRows, by)
    }
  }

  /** The probe rows of list `by`, looked up, when `probeRows` are local
    * rows whose table is within the session's broadcast threshold: they
    * are computed on the driver until the table passes it. With no
    * probe rows the join stays, and the optimizer folds its empty side
    * into an empty result with no scan. */
  private def lookup(probeRows: DataFrame, by: String): Option[Column] =
    shim.localRows(probeRows).flatMap { data =>
      ProbeTable(data, probeRows.schema, by,
        probeRows.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    }.collect { case (table, st) if table.rows > 0 =>
      shim.col(ProbeLookup(shim.expr(col(by)), table, st)) }

  /** At most this many disjuncts in a [[listFilter]], which every row
    * the scan returns evaluates. */
  val MaxRuns = 64

  /** Keeps the rows of the `probed` lists of cluster column `c`, as an
    * OR of one `c IN (…)` per run of adjacent probed lists. Spark pushes
    * it into a parquet scan. Parquet prunes row groups and pages by an
    * IN of more than spark.sql.parquet.pushdown.inFilterThreshold (10)
    * values by its min and max alone: exact for a run, but a single IN
    * over scattered lists would read almost the whole list_no-sorted
    * file. Past [[MaxRuns]] runs, the runs across the narrowest gaps
    * are merged into ranges, and one IN of all the lists keeps the
    * result exact. */
  def listFilter(c: Column, probed: Array[Int]): Column = {
    val s = probed.distinct.sorted
    def in(v: Array[Int]) = c.isin(v.map(Integer.valueOf): _*)
    // a run starts after each gap; past MaxRuns runs, only the widest gaps split
    val gaps = (1 until s.length).filter(i => s(i) > s(i - 1) + 1)
    val cuts = gaps.sortBy(i => s(i - 1) - s(i)).take(MaxRuns - 1).sorted
    val runs = (0 +: cuts).zip(cuts :+ s.length).map { case (a, b) => s.slice(a, b) }
    if (cuts.length == gaps.length) runs.map(in).reduce(_ || _)
    else in(s) && runs.map(r => c.between(r.head, r.last)).reduce(_ || _)
  }

  /** Collects `side` (a search's id column(s) and `queryVec`) with the
    * ranked probe array `sel` ([[selExpr]]-shaped) as `_sel`, once, as
    * internal rows. Returns them as a LocalRelation frame, which the
    * caller explodes with [[rows]], and the probed list ids. Over a
    * LocalRelation side the selector runs on the driver
    * (`shim.localRows`: no job, no optimizer pass); over any other the
    * collect is one narrow job. A vector whose length is not `d` (a
    * binary code's: whose byte length is not `d`) is rejected before
    * the selector sees it; a null vector gets a null `_sel`, so no
    * probe rows. */
  def local(side: DataFrame, queryVec: String, sel: Column,
      d: Int): (DataFrame, Array[Int]) = {
    val binary = side.schema(queryVec).dataType == BinaryType
    val len = if (binary) length(col(queryVec)) else size(col(queryVec))
    val q = side.select(col("*"), when(len === d, sel).as("_sel"))
    val rows = shim.localRows(q).fold(shim.collectRows(q))(_.toArray)
    val (v, s) = (q.schema.fieldIndex(queryVec), q.schema.fieldIndex("_sel"))
    val probed = scala.collection.mutable.BitSet.empty
    rows.foreach { r =>
      if (!r.isNullAt(v)) {
        val n = if (binary) r.getBinary(v).length else r.getArray(v).numElements()
        require(n == d, if (binary)
          s"query code column `$queryVec` has a row of $n bytes; the index has $d-byte codes"
          else s"query vector column `$queryVec` has a row of length $n; the index has d = $d")
        val a = r.getArray(s)
        var i = 0
        while (i < a.numElements()) { probed += a.getStruct(i, 2).getInt(0); i += 1 }
      }
    }
    (shim.localFrame(side.sparkSession, q, rows.toSeq), probed.toArray)
  }

  /** [[local]] over `queries`' (queryId, queryVec) with the
    * [[selExpr]] selector over `centroids`: the probe step of a
    * small-batch search. */
  def local(queries: DataFrame, queryId: String, queryVec: String,
      centroids: Array[Array[Float]], nprobe: Int, metric: String,
      coarse: Option[CoarseQuant], cacheKey: String): (DataFrame, Array[Int]) =
    local(queries.select(col(queryId), col(queryVec)), queryVec,
      selExpr(col(queryVec), centroids, nprobe, metric, coarse, cacheKey),
      centroids.head.length)

  /** A graph-accelerated coarse quantizer for probe selection — the
    * reference's `IVF<n>_HNSW<m>` / `IVF<n>_NSG<R>` coarse grammar
    * (index_factory.cpp:253-262), where the per-query centroid argmin
    * is replaced by a walk over a per-executor graph of the centroids
    * (the scale path at nlist large enough that the exact O(nlist)
    * argmin dominates). `budget` is the walk's candidate-pool size
    * (HNSW efSearch / NSG searchL); budget >= nlist degenerates to
    * the exact probe set — the oracle-gate convention. */
  sealed trait CoarseQuant
  sealed trait GraphCoarse extends CoarseQuant { def budget: Int }
  /** HNSW walk, degree `m` (IndexHNSWFlat as quantizer). */
  final case class HnswCoarse(efSearch: Int, m: Int = 32) extends GraphCoarse {
    def budget: Int = efSearch
  }
  /** NSG walk, out-degree `r` (IndexNSGFlat as quantizer). */
  final case class NsgCoarse(searchL: Int, r: Int = 32) extends GraphCoarse {
    def budget: Int = searchL
  }
  /** IndexPQ as quantizer (`IVF<n>(PQ<m>[x<k>])` paren coarse,
    * index_factory.cpp:263-267): cells ranked by ADC over a
    * driver-trained PQ of the centroid table
    * ([[graft.core.CoarsePq]]) — approximate by quantization, not by
    * a walk budget, so there is no exact-degenerate knob; the oracle
    * replays the encode/LUT/ADC arithmetic instead. */
  final case class PqAdcCoarse(m: Int, ksub: Int = 16, niter: Int = 10,
      seed: Long = 1234L) extends CoarseQuant
  /** IVF-Flat as quantizer (`IVF<n>(IVF<n2>,Flat)` paren coarse):
    * rank the nlist2 sub-centroids, scan only the centroids of the
    * best nprobe2 sub-cells ([[graft.core.NearestCentroidsIvf2]]).
    * nprobe2 >= nlist2 degenerates to the exact ranking; the
    * sub-clustering is a driver-trained 1-subspace k-means over the
    * centroid table ([[graft.core.CoarsePq]] with m = 1). */
  final case class IvfFlatCoarse(nlist2: Int, nprobe2: Int, niter: Int = 10,
      seed: Long = 1234L) extends CoarseQuant

  /** Coarse probe-selection expression shared by every IVF-family
    * code index: the exact O(nlist) argmin ranking
    * ([[graft.core.NearestCentroids]]) or, under a [[GraphCoarse]],
    * the per-executor graph walk over the centroids
    * ([[graft.core.NearestCentroidsHnsw]] /
    * [[graft.core.NearestCentroidsNsg]]; budget >= nlist degenerates
    * to exact). Returns an array<struct(list_no, dist)> column ranked
    * best-first. The graph degree is folded into the cache key so one
    * index searched at two degrees never reuses the other's graph. */
  def selExpr(queryVec: Column,
      centroids: Array[Array[Float]], nprobe: Int, metric: String,
      coarse: Option[CoarseQuant],
      cacheKey: String): Column = {
    val np = math.min(nprobe, centroids.length)
    coarse match {
      case Some(g) =>
        require(metric == "l2sq",
          "non-exact coarse quantizers are L2-only (reference semantics)")
        g match {
          case HnswCoarse(ef, m) =>
            shim.col(graft.core.NearestCentroidsHnsw(shim.expr(queryVec),
              centroids, np, ef, m = m, cacheKey = s"$cacheKey:hnsw:m=$m"))
          case NsgCoarse(sl, r) =>
            shim.col(graft.core.NearestCentroidsNsg(shim.expr(queryVec),
              centroids, np, sl, r = r, cacheKey = s"$cacheKey:nsg:r=$r"))
          case PqAdcCoarse(m, ksub, ni, sd) =>
            val (cb, codes) = graft.core.CoarsePq.model(centroids, m, ksub, ni, sd)
            shim.col(graft.core.NearestCentroidsAdc(shim.expr(queryVec),
              cb, codes, np))
          case IvfFlatCoarse(n2, np2, ni, sd) =>
            // integer-assignment sub-clustering: nlist2 is NOT capped
            // at 256 (no byte code anywhere in this path)
            val (subCents, assign) = graft.core.CoarsePq.assignModel(
              centroids, n2, ni, sd)
            shim.col(graft.core.NearestCentroidsIvf2(shim.expr(queryVec),
              subCents, assign, centroids,
              math.min(np2, subCents.length), np))
        }
      case None =>
        shim.col(graft.core.NearestCentroids(shim.expr(queryVec),
          centroids, np, metric))
    }
  }

  /** The (list_no, centroid: array<float>) table of a centroid table,
    * for index builds and reconstructs that join it to their rows;
    * searches attach centroids with [[centroid]]. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("list_no", "centroid")
      .select(col("list_no"),
        col("centroid").cast("array<float>").as("centroid"))
  }
}
