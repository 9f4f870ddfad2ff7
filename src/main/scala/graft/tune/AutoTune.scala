package graft.tune

import org.apache.spark.sql.DataFrame
import graft.index.IvfIndex
import graft.knn.Knn
import graft.eval.Recall

/** Parameter auto-tuning (faiss ParameterSpace / OperatingPoints,
  * AutoTune.h:87-207): enumerate nprobe operating points, measure
  * recall against the exact oracle and a scan-cost proxy, keep the
  * Pareto frontier (AutoTune.cpp explore). Cost here is the fraction
  * of base rows scanned (deterministic and hardware-independent,
  * unlike wall-clock; the reference's perf counter plays that role).
  */
object AutoTune {

  case class OperatingPoint(nprobe: Int, recall: Double, scannedFrac: Double)

  def explore(idx: IvfIndex, queries: DataFrame, base: DataFrame, k: Int,
      nprobes: Seq[Int]): Seq[OperatingPoint] = {
    import org.apache.spark.sql.functions._
    val truth = Knn.knnJoin(queries, base, k).cache()
    val listSizes = idx.invlists.groupBy("list_no").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = listSizes.values.sum.toDouble
    try {
      // ONE pruned scan at max(nprobes) yields every operating point
      // (IvfIndex.searchSweep); re-searching per point would rescan
      // identical lists |nprobes| times. Recall for ALL points is then
      // one join+agg against the exact truth (Recall.perQuery
      // semantics, grouped by sweep point), and the scan-cost proxy
      // comes from each list's MINIMUM probe rank over the query set
      // (list probed at nprobe=np iff min rank < np).
      val sess = queries.sparkSession
      import sess.implicits._
      val sweep = idx.searchSweep(queries, k, nprobes)
      val denom = truth.groupBy("qid").agg(count(lit(1)).as("_n"))
      val inter = sweep.select("np", "qid", "id")
        .join(truth.select("qid", "id"), Seq("qid", "id"))
        .groupBy("np", "qid").agg(count(lit(1)).as("_i"))
      val recalls = nprobes.toDF("np").crossJoin(denom)
        .join(inter, Seq("np", "qid"), "left")
        .groupBy("np")
        .agg(avg(coalesce(col("_i"), lit(0L)).cast("double") /
          col("_n").cast("double")).as("recall"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val minRank = idx.probedListMinRank(queries, nprobes.max)
      nprobes.map { np =>
        val frac = minRank.collect { case (l, pr) if pr < np =>
          listSizes.getOrElse(l, 0L) }.sum / total
        OperatingPoint(np, recalls.getOrElse(np, 0.0), frac)
      }
    } finally { truth.unpersist() }
  }

  /** OneRecallAtRCriterion (faiss/AutoTune.h:44): the fraction of
    * queries whose TRUE nearest neighbor appears in the top R results
    * — the criterion behind every SIFT1B/Deep1B "R@1/R@10/R@100"
    * table (explore's default is the IntersectionCriterion,
    * AutoTune.h:56: |approx ∩ exact|/k). Same one-scan sweep shape as
    * [[explore]]; only the evaluation differs. */
  def explore1RecallAtR(idx: IvfIndex, queries: DataFrame, base: DataFrame,
      r: Int, nprobes: Seq[Int]): Seq[OperatingPoint] = {
    import org.apache.spark.sql.functions._
    val sess = queries.sparkSession
    import sess.implicits._
    val truth1 = Knn.knnJoin(queries, base, 1).select("qid", "id").cache()
    val listSizes = idx.invlists.groupBy("list_no").count()
      .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    val total = listSizes.values.sum.toDouble
    val nq = queries.count().toDouble
    try {
      val sweep = idx.searchSweep(queries, r, nprobes)
      val hits = sweep.select("np", "qid", "id")
        .join(truth1, Seq("qid", "id"))
        .groupBy("np").agg(count(lit(1)).as("_h")) // ≤1 hit per (np, qid)
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      val minRank = idx.probedListMinRank(queries, nprobes.max)
      nprobes.map { np =>
        val frac = minRank.collect { case (l, pr) if pr < np =>
          listSizes.getOrElse(l, 0L) }.sum / total
        OperatingPoint(np, hits.getOrElse(np, 0L) / nq, frac)
      }
    } finally truth1.unpersist()
  }

  /** Pareto-optimal subset: no other point has >= recall at <= cost. */
  def paretoFront(points: Seq[OperatingPoint]): Seq[OperatingPoint] =
    points.filter { p =>
      !points.exists(q => (q.recall > p.recall && q.scannedFrac <= p.scannedFrac) ||
        (q.recall >= p.recall && q.scannedFrac < p.scannedFrac))
    }.sortBy(_.scannedFrac)

  /** A (nprobe, ht, max_codes) operating point — the triple the
    * reference's Deep1B/SIFT1B autotune sweeps (ParameterSpace
    * initialization, AutoTune.cpp:347-403: nprobe :370, ht :376-380,
    * max_codes :388). `scannedFrac` is the fraction of stored codes
    * whose ADC distance the grid point actually evaluates — the
    * deterministic stand-in for the reference's ndis perf counter. */
  case class OperatingPointM(nprobe: Int, ht: Int, maxCodes: Int,
      recall: Double, scannedFrac: Double)

  /** Multi-parameter explore over an IVFPQ index (ParameterSpace::
    * explore on the 3-axis grid). ONE pruned candidate scan at
    * max(nprobes) yields every grid point: each candidate carries its
    * probe rank (nprobe axis), its polysemous Hamming distance to the
    * query's per-list residual code (ht axis), and its list's
    * cumulative scan position in probe-rank order (the max_codes
    * TOTAL budget, IndexIVF.cpp:586) — the reference re-runs the
    * index per grid point because its scan is in-memory; at 100 TB
    * each re-run is a full pruned read, so deriving the grid from one
    * read is the dataflow-correct shape. `hts` values ≥ the code bit
    * width and `maxCodes` values ≥ the per-query scanned total
    * degenerate to unfiltered axes (the reference's parameter-off
    * convention). */
  def exploreMulti(idx: graft.index.IvfPqIndex, queries: DataFrame,
      base: DataFrame, k: Int, nprobes: Seq[Int], hts: Seq[Int],
      maxCodesList: Seq[Int]): Seq[OperatingPointM] =
    exploreMultiFrom(idx.sweepCandidates(queries, nprobes.max),
      idx.codes.count(), queries, base, k, nprobes, hts, maxCodesList)

  /** [[exploreMulti]] over the IMI coarse (the Deep1B operating-point
    * shape — IMI2x<b>,PQ<m> tuned on (nprobe, ht, max_codes)): same
    * sweep-candidate schema, same grid derivation. */
  def exploreMultiImi(idx: graft.index.ImiPqIndex, queries: DataFrame,
      base: DataFrame, k: Int, nprobes: Seq[Int], hts: Seq[Int],
      maxCodesList: Seq[Int]): Seq[OperatingPointM] =
    exploreMultiFrom(idx.sweepCandidates(queries, nprobes.max),
      idx.codes.count(), queries, base, k, nprobes, hts, maxCodesList)

  /** Shared grid derivation over a (qid, list_no, pr, id, dist, ham)
    * sweep-candidate table — one scan serves every grid point. */
  private def exploreMultiFrom(candidates: DataFrame, totalCodes: Long,
      queries: DataFrame, base: DataFrame, k: Int, nprobes: Seq[Int],
      hts: Seq[Int], maxCodesList: Seq[Int]): Seq[OperatingPointM] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val sess = queries.sparkSession
    import sess.implicits._
    val truth = Knn.knnJoin(queries, base, k).cache()
    val total = totalCodes.toDouble
    val nq = queries.count().toDouble
    val cand = candidates.cache()
    try {
      // max_codes = per-query TOTAL scan budget consumed in probe-rank
      // order (IndexIVF.cpp:586; the Probes.budget semantics):
      // the list at rank r is scanned iff the RAW sizes of the
      // better-ranked lists sum below the budget — independent of ht
      // (the reference counts scanned codes before the polysemous
      // filter) and of np (all better-ranked lists are within any
      // budget that admits this one). Per-(query, list) sizes come
      // from the candidate table itself: it carries every code of
      // every probed list.
      val candB = cand.join(
        cand.groupBy("qid", "list_no")
          .agg(count(lit(1)).as("_c"), min(col("pr")).as("_pr"))
          .withColumn("_before", sum(col("_c")).over(
            Window.partitionBy(col("qid")).orderBy(col("_pr"))) - col("_c"))
          .select(col("qid"), col("list_no"), col("_before")),
        Seq("qid", "list_no"))
      val candH = candB.join(broadcast(hts.toDF("ht")), col("ham") <= col("ht"))
      val grid = broadcast(
        (for (np <- nprobes; mc <- maxCodesList) yield (np, mc)).toDF("np", "mc"))
      val all = candH.join(grid,
        col("pr") < col("np") && col("_before") < col("mc"))
        .cache()
      try {
        val scanned = all.groupBy("np", "ht", "mc")
          .agg(count(lit(1)).as("_s"))
          .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
          .toMap
        val inter = all
          .groupBy("np", "ht", "mc", "qid")
          .agg(graft.functions.topk(col("dist"), col("id"), k, asc = true).as("_tk"))
          .select(col("np"), col("ht"), col("mc"), col("qid"),
            explode(col("_tk")).as("_r"))
          .select(col("np"), col("ht"), col("mc"), col("qid"),
            col("_r.id").as("id"))
          .join(truth.select("qid", "id"), Seq("qid", "id"))
          .groupBy("np", "ht", "mc").agg(count(lit(1)).as("_i"))
          .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
          .toMap
        for (np <- nprobes; ht <- hts; mc <- maxCodesList) yield {
          val key = (np, ht, mc)
          OperatingPointM(np, ht, mc,
            // average per-query recall == total hits / (nq * k): every
            // query has exactly k truth rows, so the flat ratio and the
            // per-query mean agree (and zero-candidate queries count 0)
            inter.getOrElse(key, 0L) / (nq * k),
            // per-QUERY average scan share (the reference's ndis is
            // summed over the batch): nprobe=nlist + open ht/max_codes
            // ⇒ exactly 1.0
            scanned.getOrElse(key, 0L) / (nq * total))
        }
      } finally all.unpersist()
    } finally { truth.unpersist(); cand.unpersist() }
  }

  /** Pareto front on the 3-axis points (same dominance as
    * [[paretoFront]]: recall up, cost down). */
  def paretoFrontM(points: Seq[OperatingPointM]): Seq[OperatingPointM] =
    points.filter { p =>
      !points.exists(q => (q.recall > p.recall && q.scannedFrac <= p.scannedFrac) ||
        (q.recall >= p.recall && q.scannedFrac < p.scannedFrac))
    }.sortBy(p => (p.scannedFrac, p.recall, p.nprobe, p.ht, p.maxCodes))

  /** k_factor operating point (IndexRefine's stage-1 candidate budget
    * k·k_factor — ParameterSpace axes "k_factor"/"k_factor_rf",
    * AutoTune.cpp:347,397). `rerankedFrac` = average per-query share
    * of the base whose exact distance stage 2 computes. */
  case class OperatingPointKf(kFactor: Int, recall: Double, rerankedFrac: Double)

  /** k_factor sweep over the SQ8 + exact-re-rank composite
    * ("SQ8,RFlat"). ONE stage-1 ADC ranking at max(kFactors) and ONE
    * exact-distance join cover every point: the k_factor = f candidate
    * set is exactly the stage-1 ranks <= k·f, so smaller budgets are
    * prefix subsets — the reference re-runs the two-stage search per
    * point (AutoTune.cpp explore); at scale each re-run would rescan
    * the codes, so deriving the sweep from one scan is the
    * dataflow-correct shape (the searchSweep argument). */
  def exploreKFactor(queries: DataFrame, base: DataFrame, k: Int,
      kFactors: Seq[Int]): Seq[OperatingPointKf] = {
    import org.apache.spark.sql.functions._
    val sess = queries.sparkSession
    import sess.implicits._
    val truth = Knn.knnJoin(queries, base, k).cache()
    val n = base.count().toDouble
    val nq = queries.count().toDouble
    try {
      val sq = graft.index.SqIndex.build(base, "id", "vec")
      val kfMax = kFactors.max
      // stage 1: ADC ranks; stage 2 exact distances computed ONCE for
      // the maximal candidate set (queries × k·kfMax rows — an id
      // equi-join, never a base rescan)
      val exact = sq.search(queries, k * kfMax)
        .select(col("qid"), col("rank").as("_r1"), col("id"))
        .join(base.select(col("id"), col("vec")), "id")
        .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
        .select(col("qid"), col("_r1"), col("id"),
          graft.functions.l2sq(col("qvec"), col("vec")).as("_ed"))
      val kfDf = broadcast(kFactors.toDF("kf"))
      val inter = exact.join(kfDf, col("_r1") <= col("kf") * k)
        .groupBy(col("kf"), col("qid"))
        .agg(graft.functions.topk(col("_ed"), col("id"), k, asc = true).as("_tk"))
        .select(col("kf"), col("qid"), explode(col("_tk")).as("_r"))
        .select(col("kf"), col("qid"), col("_r.id").as("id"))
        .join(truth.select("qid", "id"), Seq("qid", "id"))
        .groupBy("kf").agg(count(lit(1)).as("_i"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      kFactors.map { kf =>
        OperatingPointKf(kf,
          inter.getOrElse(kf, 0L) / (nq * k),
          math.min(k.toDouble * kf, n) / n)
      }
    } finally truth.unpersist()
  }

  /** Pareto front on the k_factor points. */
  def paretoFrontKf(points: Seq[OperatingPointKf]): Seq[OperatingPointKf] =
    points.filter { p =>
      !points.exists(q => (q.recall > p.recall && q.rerankedFrac <= p.rerankedFrac) ||
        (q.recall >= p.recall && q.rerankedFrac < p.rerankedFrac))
    }.sortBy(p => (p.rerankedFrac, p.recall, p.kFactor))

  /** efSearch operating point (ParameterSpace "efSearch",
    * AutoTune.cpp:403 — the HNSW-coarse walk budget). */
  case class OperatingPointEf(efSearch: Int, recall: Double, scannedFrac: Double)

  /** efSearch sweep over an IVF index with the HNSW coarse quantizer.
    * Unlike the filter axes (ht/max_codes) and the prefix axes
    * (nprobe/k_factor), efSearch CHANGES the probe SETS — a larger
    * walk budget can select different lists, not a superset — so each
    * point is necessarily its own pruned scan (the reference re-runs
    * per point too; the scan is nprobe/nlist of the data either way).
    * efSearch >= nlist degenerates to the exact coarse ranking. */
  def exploreEf(idx: IvfIndex, queries: DataFrame, base: DataFrame, k: Int,
      nprobe: Int, efs: Seq[Int]): Seq[OperatingPointEf] = {
    import org.apache.spark.sql.functions._
    val truth = Knn.knnJoin(queries, base, k).cache()
    val listSizes = idx.invlists.groupBy("list_no").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = listSizes.values.sum.toDouble
    try {
      efs.map { ef =>
        val res = idx.search(queries, k, nprobe, coarse = Some(graft.index.Probes.HnswCoarse(ef)))
        val rec = Recall.perQuery(truth, res)
          .agg(avg(col("recall"))).collect().head.getDouble(0)
        val probed = idx.probedListNos(queries, nprobe, coarse = Some(graft.index.Probes.HnswCoarse(ef)))
        val frac = probed.map(l => listSizes.getOrElse(l, 0L)).sum / total
        OperatingPointEf(ef, rec, frac)
      }
    } finally truth.unpersist()
  }

  /** (nprobe, quantizer_efSearch) operating point over an IVF-PQ with
    * the HNSW coarse quantizer — the exact pair the reference's
    * ParameterSpace tunes on `IVF*_HNSW*` indexes (AutoTune.cpp:370
    * adds nprobe plus the quantizer's own space under the
    * `quantizer_` prefix; :403 adds efSearch to an HNSW space). */
  case class OperatingPointQef(nprobe: Int, quantizerEf: Int,
      recall: Double, scannedFrac: Double)

  /** Grid explore of (nprobe × quantizer_efSearch) over an IVFPQ with
    * the HNSW coarse. efSearch CHANGES the probe sets (a larger walk
    * budget is not a superset — [[exploreEf]]'s argument), so each ef
    * is its own pruned scan; the nprobe points at a fixed ef ARE
    * prefixes of that walk's probe ranking, so they all derive from
    * ONE scan at max(nprobes) via the probe-rank trick
    * ([[graft.index.IvfIndex.searchSweep]]). Cost = union-over-queries
    * scanned-code fraction (the [[explore]] convention). */
  def exploreQuantizerEf(idx: graft.index.IvfPqIndex, queries: DataFrame,
      base: DataFrame, k: Int, nprobes: Seq[Int],
      efs: Seq[Int]): Seq[OperatingPointQef] = {
    import org.apache.spark.sql.functions._
    val sess = queries.sparkSession
    import sess.implicits._
    val truth = Knn.knnJoin(queries, base, k).cache()
    val listSizes = idx.codes.groupBy("list_no").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = listSizes.values.sum.toDouble
    val nq = queries.count().toDouble
    // ONE unioned candidate table over all walk budgets, built by ONE
    // multi-budget sweep (IvfPqIndex.sweepCandidatesEf): plan
    // construction pays a single static-pruning collect over the
    // unioned probe rankings instead of one per ef (VERDICT r12 #7 —
    // the per-ef sweepCandidates loop's fixed per-job costs were the
    // gate-ratio driver), and the grid reduces with two aggregations
    // over the cached union instead of |efs|·|actions| separate jobs
    val cand = idx.sweepCandidatesEf(queries, nprobes.max, efs).cache()
    try {
      val nps = broadcast(nprobes.toDF("np"))
      val inter = cand.join(nps, col("pr") < col("np"))
        .groupBy(col("ef"), col("np"), col("qid"))
        .agg(graft.functions.topk(col("dist"), col("id"), k, asc = true).as("_tk"))
        .select(col("ef"), col("np"), col("qid"), explode(col("_tk")).as("_r"))
        .select(col("ef"), col("np"), col("qid"), col("_r.id").as("id"))
        .join(truth.select("qid", "id"), Seq("qid", "id"))
        .groupBy("ef", "np").agg(count(lit(1)).as("_i"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      // list scanned at (ef, np) iff its min probe rank over the query
      // set under that walk budget < np (probedListMinRank semantics)
      val minRank = cand.groupBy("ef", "list_no").agg(min(col("pr")).as("_pr"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      for (ef <- efs; np <- nprobes) yield {
        val frac = minRank.collect { case (e, l, pr) if e == ef && pr < np =>
          listSizes.getOrElse(l, 0L) }.sum / total
        // every query has exactly k truth rows, so hits/(nq·k) is the
        // per-query mean recall (no-candidate queries count 0)
        OperatingPointQef(np, ef, inter.getOrElse((ef, np), 0L) / (nq * k), frac)
      }
    } finally { cand.unpersist(); truth.unpersist() }
  }

  /** Pareto front on the (nprobe, quantizer_efSearch) points. */
  def paretoFrontQef(points: Seq[OperatingPointQef]): Seq[OperatingPointQef] =
    points.filter { p =>
      !points.exists(q => (q.recall > p.recall && q.scannedFrac <= p.scannedFrac) ||
        (q.recall >= p.recall && q.scannedFrac < p.scannedFrac))
    }.sortBy(p => (p.scannedFrac, p.recall, p.nprobe, p.quantizerEf))

  /** ParameterSpace::set_index_parameters string grammar
    * (faiss/AutoTune.cpp:316 — `"param=val,param=val"`, the runtime
    * tuning surface every reference bench script drives): parsed into
    * the typed knobs our search entry points accept. Unknown
    * parameter names throw, like the reference's FAISS_THROW_FMT. */
  case class SearchParams(nprobe: Option[Int] = None, ht: Option[Int] = None,
      maxCodes: Option[Int] = None, kFactor: Option[Int] = None,
      efSearch: Option[Int] = None,
      quantizerNprobe: Option[Int] = None)

  def parseParams(s: String): SearchParams = {
    var p = SearchParams()
    s.split(",").map(_.trim).filter(_.nonEmpty).foreach { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2, s"malformed parameter '$kv' (want name=value)")
      val v = parts(1).trim.toDouble.toInt // reference values are doubles
      parts(0).trim match {
        case "nprobe" => p = p.copy(nprobe = Some(v))
        case "ht" | "max_hamming" => p = p.copy(ht = Some(v))
        case "max_codes" => p = p.copy(maxCodes = Some(v))
        case "k_factor" | "k_factor_rf" => p = p.copy(kFactor = Some(v))
        // "quantizer_<param>": the reference prefixes the coarse
        // quantizer's own ParameterSpace with "quantizer_"
        // (AutoTune.cpp:370-372) — for the HNSW/NSG coarse that is
        // exactly our efSearch walk-budget knob (exploreEf threads it
        // into the graph coarse of IvfIndex.search)
        case "efSearch" | "quantizer_efSearch" =>
          p = p.copy(efSearch = Some(v))
        // the IVF-Flat quantizer's own nprobe (the IVF<n>(IVF<n2>,...)
        // two-level coarse — Probes.IvfFlatCoarse.nprobe2)
        case "quantizer_nprobe" => p = p.copy(quantizerNprobe = Some(v))
        case other => throw new IllegalArgumentException(
          s"could not set parameter $other") // AutoTune.cpp:440 wording
      }
    }
    p
  }
}
