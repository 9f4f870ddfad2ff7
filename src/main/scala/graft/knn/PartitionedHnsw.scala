package graft.knn

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed approximate kNN via per-partition in-memory HNSW
  * graphs — the capability answer to the reference's IndexHNSWfast
  * (faiss/IndexHNSWfast.h:63) under Spark's execution model.
  *
  * A single global HNSW graph is anti-dataflow (every insert/search
  * chases pointers across the whole corpus — SURVEY §7's rationale for
  * rejecting a distributed graph build). The scalable re-expression is
  * the IndexShards pattern (faiss/IndexShards.h:20): each PARTITION
  * builds a private in-memory graph inside mapPartitions and answers
  * every query locally; per-partition top-k results are merged by the
  * same bounded-heap aggregate every other search path uses. The base
  * table is never shuffled, queries are broadcast once, and each
  * partition does O(|part| log |part|) build + O(Q · ef) search — at
  * 1000 executors the graphs build in parallel and stay executor-sized.
  *
  * Accuracy: recall is that of single-node HNSW at the same ef,
  * because every partition is searched (sharding loses no candidates,
  * unlike IVF pruning). Wall-clock beats the flat scan once |part| >>
  * ef·log|part| — the per-partition scan cost drops from O(|part|) to
  * O(ef·log|part|).
  */
object PartitionedHnsw {

  /** Approximate top-k join. Output (qid, rank, id, dist), like
    * [[Knn.knnJoin]]. `queries` must be driver-collectable (same
    * contract as the broadcast-NLJ exact path).
    *
    * `filter` is the IDSelector of the fork's filtered HNSW search
    * (faiss/IndexHNSWfast.h:99 SearchParameters; remove_ids
    * `IndexHNSWfast.h:87`): pushed BELOW the graph build, so each
    * partition's graph contains only admissible points — same result
    * set as walking the full graph and discarding (top-k among allowed
    * ids), and in the batch model deletion is the same filter. */
  def knnJoin(queries: DataFrame, base: DataFrame, k: Int,
      m: Int = 16, efConstruction: Int = 64, efSearch: Int = 64,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val qArr: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), col(queryVec))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bq = spark.sparkContext.broadcast(qArr)
    // graph build is CPU-bound: never inherit a narrow file-split
    // partitioning (same rationale as Dedup.widen); wider inputs pass
    // through unchanged
    val target = spark.sparkContext.defaultParallelism
    val filtered = filter.map(base.filter).getOrElse(base)
    val spread =
      if (filtered.rdd.getNumPartitions >= target) filtered
      else filtered.repartition(target)
    val cand = spread.select(col(baseId).cast("long"), col(baseVec))
      .rdd.mapPartitionsWithIndex { (pi, it) =>
        val rows = it.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
        if (rows.isEmpty) Iterator.empty
        else {
          // seeded per partition: deterministic given the partitioning
          val g = new LocalHnsw(m, efConstruction, seed = 42L + pi)
          rows.foreach { case (id, v) => g.add(id, v) }
          bq.value.iterator.flatMap { case (qid, qv) =>
            g.search(qv, k, efSearch).iterator.map { case (id, d) => Row(qid, id, d) }
          }
        }
      }
    mergeShards(spark, cand, k, queryId, baseId)
  }

  /** SQ8-storage variant (IndexHNSWSQ, faiss/IndexHNSW.h:168): trains
    * the per-dimension SQ8 range on the base, encodes once, and each
    * partition builds its graph OVER THE CODES ([[LocalHnswSq]] —
    * d bytes per stored vector instead of 4d, decode inside the
    * distance). Search is the same asymmetric ADC kernel as the flat
    * SQ8 scan, so efSearch >= partition size reproduces
    * [[graft.index.SqIndex.search]] exactly; at 100 TB the win is 4×
    * less scan IO AND 4× smaller per-executor graphs. */
  def knnJoinSq(queries: DataFrame, base: DataFrame, k: Int,
      m: Int = 16, efConstruction: Int = 64, efSearch: Int = 64,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec",
      rangeStat: String = "minmax", rsArg: Double = 0.0): DataFrame = {
    val spark = base.sparkSession
    val qArr: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), col(queryVec))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bq = spark.sparkContext.broadcast(qArr)
    val (vmin, vdiff) =
      graft.index.SqIndex.trainRange(base, baseVec, rangeStat, rsArg)
    import org.apache.spark.sql.graft.shim
    val codes = base.select(col(baseId).cast("long"), shim.col(
      graft.core.SQEncode(shim.expr(col(baseVec)), vmin, vdiff)))
    val target = spark.sparkContext.defaultParallelism
    val spread =
      if (codes.rdd.getNumPartitions >= target) codes
      else codes.repartition(target)
    val cand = spread.rdd.mapPartitionsWithIndex { (pi, it) =>
      val rows = it.map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val g = new LocalHnswSq(vmin, vdiff, m, efConstruction, seed = 42L + pi)
        rows.foreach { case (id, code) => g.add(id, code) }
        bq.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, efSearch).iterator.map { case (id, d) => Row(qid, id, d) }
        }
      }
    }
    mergeShards(spark, cand, k, queryId, baseId)
  }

  /** PQ-storage variant (IndexHNSWPQ, faiss/IndexHNSW.h:152): encodes
    * the base with a pre-trained [[graft.index.PqModel]] and each
    * partition builds its graph OVER THE M-BYTE CODES ([[LocalHnswPq]]
    * — symmetric sdc-table distances for construction, per-query ADC
    * LUT for search). The search arithmetic is PqKernels.lut +
    * adcFromLut term for term, so efSearch >= partition size
    * reproduces the flat [[graft.index.PqIndex.search]] ADC ranking
    * exactly. The model is a parameter (not trained here) so callers
    * share one trained codebook across index variants — the
    * reference's quantizer-reuse pattern. */
  def knnJoinPq(queries: DataFrame, base: DataFrame, k: Int,
      model: graft.index.PqModel,
      m: Int = 16, efConstruction: Int = 64, efSearch: Int = 64,
      queryId: String = "qid", queryVec: String = "qvec",
      baseId: String = "id", baseVec: String = "vec"): DataFrame = {
    val spark = base.sparkSession
    val qArr: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), col(queryVec))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bq = spark.sparkContext.broadcast(qArr)
    val codes = model.encode(base, baseId, baseVec)
      .select(col("id").cast("long"), col("code"))
    val target = spark.sparkContext.defaultParallelism
    val spread =
      if (codes.rdd.getNumPartitions >= target) codes
      else codes.repartition(target)
    val cb = model.codebooks
    val cand = spread.rdd.mapPartitionsWithIndex { (pi, it) =>
      // id-sorted insertion: PQ distances TIE whenever two rows share a
      // code, and graph tie-breaks use the insertion index — sorting
      // makes per-partition ties resolve by ascending id, matching the
      // (dist, id) order of the flat ADC ranking (and the oracle)
      val rows = it.map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toArray
        .sortBy(_._1)
      if (rows.isEmpty) Iterator.empty
      else {
        val g = new LocalHnswPq(cb, m, efConstruction, seed = 42L + pi)
        rows.foreach { case (id, code) => g.add(id, code) }
        bq.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, efSearch).iterator.map { case (id, d) => Row(qid, id, d) }
        }
      }
    }
    mergeShards(spark, cand, k, queryId, baseId)
  }

  /** IndexShards result merge: bounded-heap top-k over the union of
    * per-partition candidates (only <= k rows per (partition, query)
    * reach the shuffle). Shared with [[PartitionedNsg]]. */
  private[knn] def mergeShards(spark: org.apache.spark.sql.SparkSession,
      cand: org.apache.spark.rdd.RDD[Row], k: Int,
      queryId: String, baseId: String): DataFrame = {
    val candDf = spark.createDataFrame(cand,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_qid", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_dist", org.apache.spark.sql.types.DoubleType, nullable = false))))
    graft.core.TopKAgg.ranked(candDf, Seq(col("_qid").as(queryId)), col("_dist"),
        col("_id"), k, asc = true)
      .select(col(queryId), col("rank"), col("id").as(baseId), col("dist"))
  }
}
