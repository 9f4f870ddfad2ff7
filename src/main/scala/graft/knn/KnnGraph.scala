package graft.knn

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{ScopedConf, TopKAgg}

/** Batch kNN-graph construction (the capability behind the
  * reference's Deep1B kNN-graph benchmark, benchs/README.md:313, and
  * IndexNNDescent's build phase, faiss/impl/NNDescent.cpp:488 —
  * SURVEY §2.11 notes NN-descent's graph BUILD is the one graph
  * algorithm that is dataflow-friendly: neighbor-of-neighbor
  * candidate joins + per-node top-k).
  *
  * `exact` is O(n²) work but never shuffles the base (blocked
  * broadcast); `nnDescent` is the scale path: each round generates
  * candidates by joining the current graph with itself (≈ n·k² rows)
  * and reduces with the partial top-k — no cross join at any size.
  */
object KnnGraph {

  /** Exact k-nearest-neighbor graph (self-join, self-edge excluded).
    * Output (src, rank, dst, dist). */
  def exact(base: DataFrame, k: Int, metric: String = "l2sq",
      idCol: String = "id", vecCol: String = "vec",
      blocks: Int = 1): DataFrame = {
    // widen the STREAMED side before the broadcast-kNN: knnJoin
    // broadcasts the queries and streams the base, so a base that
    // arrives as one file split runs the whole n×n distance scan in
    // ONE task (measured 1.8 s single-task vs ~0.1 s spread; same
    // fix as the bigVecs widen). At scale the source has >=
    // defaultParallelism splits and this is a no-op. Result-identical:
    // the per-qid top-k is independent of row placement (TopKAgg's
    // tie determinism is property-tested). Widen decides from the
    // OPTIMIZED plan, so a shuffle-bearing derived base (the
    // nndescent recall gate's replicated node set) no longer executes
    // its whole lineage just to count partitions (ADVICE r19).
    val wide = graft.core.Widen(base)
    val q = base.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val res =
      if (blocks <= 1) Knn.knnJoin(q, wide, k + 1, metric,
        baseId = idCol, baseVec = vecCol)
      else Knn.knnJoinBlocked(q, wide, k + 1, blocks, metric,
        baseId = idCol, baseVec = vecCol)
    // drop the self edge, re-rank 1..k
    TopKAgg.ranked(res.filter(col("qid") =!= col(idCol)), Seq(col("qid")),
      col("dist"), col(idCol), k, asc = true)
      .select(col("qid").as("src"), col("rank"), col("id").as("dst"), col("dist"))
  }

  /** NN-descent refinement (Dong et al., WWW'11): start from a cheap
    * initial graph, repeatedly propose neighbors-of-neighbors (in both
    * edge directions) and keep each node's best k. Converges in a few
    * rounds on metric data; each round is two equi-joins + a top-k.
    *
    * Precondition: recomputing `base` yields the same rows in the same
    * partitions. The initial graph enumerates the ids with one counting
    * pass over their partitions, then applies those per-partition
    * offsets in a second, uncached computation of the same partitions.
    * If a partition's rows change between the two (a nondeterministic
    * sample or filter upstream), the enumeration skips or repeats
    * positions; if only their order changes (a re-run shuffle read), the
    * seed graph, and so the result, is no longer reproducible. Pass a
    * cached or checkpointed `base` in either case. */
  def nnDescent(base: DataFrame, k: Int, iters: Int = 3,
      metric: String = "l2sq", idCol: String = "id", vecCol: String = "vec",
      seed: Long = 1234L): DataFrame = {
    val spark = base.sparkSession
    val ids = base.select(col(idCol).cast("long").as("src"))
    // initial graph: k pseudo-random neighbors. Hashed offsets are
    // positions into a dense 0..n-1 enumeration of the ACTUAL ids, so
    // sparse or non-contiguous id spaces still seed real neighbors
    // rather than ids that do not exist. ONE counting pass serves both
    // n and the enumeration offsets (r20): the old `ids.count()` +
    // `zipWithIndex` spent two jobs on the same per-partition counts
    // (zipWithIndex runs its own internal count pass for the offsets —
    // guide §2.4, remove redundant passes). Index assignment is
    // byte-identical to zipWithIndex: partition order, then element
    // order within the partition.
    val idRdd = ids.rdd.map(_.getLong(0))
    val counts = idRdd
      .mapPartitionsWithIndex { (i, it) =>
        var c = 0L; while (it.hasNext) { it.next(); c += 1 }
        Iterator((i, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val n = counts.sum
    val offsets = counts.scanLeft(0L)(_ + _)
    val mapped = {
      import spark.implicits._
      idRdd.mapPartitionsWithIndex { (i, it) =>
        var p = offsets(i)
        it.map { id => val r = (id, p); p += 1; r }
      }.toDF("_dstid", "_pos")
    }
    val graph0 = ids.select(col("src"),
      explode(sequence(lit(1), lit(k))).as("_j"))
      .select(col("src"),
        pmod(xxhash64(col("src"), col("_j"), lit(seed)), lit(n)).as("_pos"))
      .join(mapped, "_pos")
      .select(col("src"), col("_dstid").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

    // Data-derived execution shape for the rounds (r20, VERDICT r19
    // #6): candidate volume per round is ~n·k·(k+2) rows (undirected
    // edges + neighbor-of-neighbor proposals), known exactly from the
    // counting pass above. When that volume is far below the session's
    // shuffle width, the loop's 4 exchanges/round each run as 32-way
    // stages of near-empty tasks and AQE materializes every stage as
    // its own job — pure scheduling latency at 100 nodes. Tiny mode
    // (derived, never a constant): one scope around the round loop
    // with shuffle partitions sized to the candidate volume, AQE off,
    // eager per-round checkpoint so each round executes inside the
    // scope. At scale tinyParts clamps to the session value and
    // NOTHING changes (session confs, lazy checkpoint, AQE skew
    // handling intact).
    val parts = ScopedConf.tinyParts(spark, n * k * (k + 2), 1L << 17)
    val tiny = parts < spark.sessionState.conf.numShufflePartitions
    val graph = ScopedConf.tinyShuffle(spark, parts) { s =>
      val b = shim.rebind(s, base)
      var g = shim.rebind(s, graph0)
      for (_ <- 0 until iters) {
        // NOT distinct'ed here: the union carries a duplicate (src, dst)
        // only for mutual edges (a↔b both in graph), so skipping the
        // dedup shuffle at this point at most doubles those rows through
        // the neighbor join; the single distinct over the FINAL candidate
        // union below removes them before the expensive knnByIdx. One
        // shuffle per iteration instead of two for the same candidate
        // set (guide §2.4 — remove shuffles outright; result-identical
        // because only the post-distinct SET feeds the top-k).
        val undirected = g.select(col("src"), col("dst"))
          .unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
        // neighbors of neighbors
        val non = undirected.as("a")
          .join(undirected.as("b"), col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"))
          .filter(col("src") =!= col("dst"))
        val candidates = undirected.unionByName(non).distinct()
          .select(col("src").as("qid"), col("dst").as(idCol))
        val q = b.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
        g = Knn.knnByIdx(q, b, candidates, k, metric,
          baseId = idCol, baseVec = vecCol)
          .select(col("qid").as("src"), col(idCol).as("dst"), col("dist"))
          // Truncate lineage each round: the graph feeds THREE plan
          // references next round (undirected union + both join sides),
          // so without a cut the logical plan grows geometrically with
          // iterations — execution re-use aside, Spark re-formats the
          // plan string on every AQE stage update, which alone turns
          // minutes of CPU on deep plans (the r02/r03 bench stalls).
          // Eager ONLY in tiny mode, so the round executes inside the
          // scope; at scale NON-eager (r20) skips the dedicated
          // materialization job per round and lets the next round's
          // FIRST action compute+persist the round result instead
          // (VERDICT r19 #6 — fuse the per-round checkpoint action; one
          // fewer job per iteration, same persisted data, concurrent
          // readers of the persisted partitions are serialized by the
          // block manager). The plan truncates to a LogicalRDD either
          // way.
          .localCheckpoint(tiny)
      }
      // back on the caller's session: the ranking below and every
      // downstream join plan at the session width
      shim.rebind(spark, g)
    }
    // final ranking straight off the last round's (src, dst, dist)
    // rows: the loop's knnByIdx already computed the exact distance of
    // every surviving edge, so re-joining base vectors to re-evaluate
    // the same pairs (the old shape) paid two extra joins and a
    // distance pass for information the graph already carries. Same
    // (dist, id) tie-order as knnByIdx ⇒ identical output.
    TopKAgg.ranked(graph, Seq(col("src")), col("dist"), col("dst"), k,
      graft.core.Metric.ascending(metric))
      .select(col("src"), col("rank"), col("id").as("dst"), col("dist"))
  }
}
