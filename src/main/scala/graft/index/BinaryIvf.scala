package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{hamming_dist, sign_bits, topk}

/** Binary IVF index (faiss/IndexBinaryIVF.h:33): inverted lists of
  * packed binary codes, a binary coarse quantizer, Hamming-pruned
  * search. Composes the shared IVF scan ([[Probes.scan]]) with the
  * Hamming kernels of [[BinaryFlat]].
  *
  * Training follows the reference's recipe (IndexBinaryIVF::train →
  * float k-means over the bits, then binarize the centroids): k-means
  * runs on the codes unpacked to 0/1 floats and each centroid is
  * re-packed by thresholding at 0.5 — so the coarse quantizer is
  * itself a binary code table and assignment is pure integer Hamming
  * (deterministic; ties on the lower list_no).
  */
class BinaryIvfIndex(
    val nlist: Int,
    /** per-list centroid bits, 0/1 per dim. */
    val centroidBits: Array[Array[Int]],
    /** (id, code, list_no) */
    val invlists: DataFrame) {

  /** Stable id for the executor-side HNSW coarse-quantizer cache
    * (the IvfIndex convention). */
  private val hnswCacheKey = java.util.UUID.randomUUID().toString

  private def centDf: DataFrame = {
    val spark = invlists.sparkSession
    import spark.implicits._
    centroidBits.zipWithIndex.toSeq
      .map { case (bits, l) => (l, BinaryIvfIndex.pack(bits)) }
      .toDF("list_no", "ccode")
  }

  /** Exact Hamming probe selection (one definition shared by search
    * and rangeSearch — a tie-break or cast fix must reach both, the
    * ImiProbes convention). Output (queryId, queryCode, list_no). */
  private def flatProbes(queries: DataFrame, nprobe: Int,
      queryId: String, queryCode: String): DataFrame =
    queries.crossJoin(broadcast(centDf))
      .select(col(queryId), col(queryCode),
        hamming_dist(col(queryCode), col("ccode")).cast("double").as("_hd"),
        col("list_no"))
      .groupBy(col(queryId), col(queryCode))
      .agg(topk(col("_hd"), col("list_no").cast("long"), nprobe, asc = true).as("_tk"))
      .select(col(queryId), col(queryCode), explode(col("_tk")).as("_r"))
      .select(col(queryId), col(queryCode), col("_r.id").cast("int").as("list_no"))

  /** Hamming kNN over the nprobe closest lists. Output
    * (qid, rank, id, hd).
    *
    * `hnswCoarse = Some(efSearch)` routes probe selection through a
    * per-executor HNSW graph over the centroids — the reference's
    * `BIVF<n>_HNSW<m>` coarse grammar (index_factory.cpp:895-900,
    * IndexBinaryHNSW as quantizer). Hamming on packed codes equals
    * squared L2 on the 0/1-unpacked bits (each mismatching bit
    * contributes exactly 1, the IndexBinaryFromFloat identity), so the
    * float HNSW walk over unpacked centroids selects Hamming-correct
    * probes; efSearch >= nlist degenerates to the exact ranking. */
  /** Probe head shared by [[search]] and [[rangeSearch]] — exact
    * Hamming ranking or the float HNSW walk over unpacked centroids. */
  private def coarseProbes(queries: DataFrame, nprobe: Int,
      queryId: String, queryCode: String,
      hnswCoarse: Option[Int], hnswM: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    hnswCoarse match {
      case Some(ef) =>
        val nbits = centroidBits.headOption.map(_.length).getOrElse(0)
        val centF = centroidBits.map(_.map(_.toFloat))
        val qbits = shim.col(graft.core.UnpackBits(
          shim.expr(col(queryCode)), nbits)).cast("array<float>")
        Probes.rows(queries, Seq(col(queryId), col(queryCode)),
          sel = shim.col(graft.core.NearestCentroidsHnsw(
            shim.expr(qbits), centF, math.min(nprobe, nlist), ef,
            m = hnswM, cacheKey = s"$hnswCacheKey:m=$hnswM")))
      case None => flatProbes(queries, nprobe, queryId, queryCode)
    }
  }

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      hnswCoarse: Option[Int] = None, hnswM: Int = 16): DataFrame = {
    val probes = coarseProbes(queries, nprobe, queryId, queryCode,
      hnswCoarse, hnswM)
    BinaryFlat.rankedHd(
      Probes.scan(invlists, probes, Some(Probes.probedListIds(probes)))
        .select(col(queryId), col("id"),
          hamming_dist(col(queryCode), col("code")).cast("double").as("_d")),
      k, queryId, "id")
  }

  /** Hamming radius search over the probed lists
    * (IndexBinaryIVF::range_search, faiss/IndexBinaryIVF.cpp — same
    * pruning as [[search]], radius predicate instead of top-k;
    * inclusive bound, the [[BinaryFlat.rangeJoin]] convention).
    * Output (qid, id, hd). */
  def rangeSearch(queries: DataFrame, maxHamming: Long, nprobe: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      hnswCoarse: Option[Int] = None, hnswM: Int = 16): DataFrame = {
    val probes = coarseProbes(queries, nprobe, queryId, queryCode,
      hnswCoarse, hnswM)
    Probes.scan(invlists, probes, Some(Probes.probedListIds(probes)))
      .select(col(queryId), col("id"),
        hamming_dist(col(queryCode), col("code")).as("hd"))
      .filter(col("hd") <= maxHamming)
  }
}

object BinaryIvfIndex {

  private[index] def pack(bits: Array[Int]): Array[Byte] = {
    val out = new Array[Byte]((bits.length + 7) / 8)
    var i = 0
    while (i < bits.length) {
      if (bits(i) != 0) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Train + add from float vectors: codes = sign bits, coarse
    * quantizer = k-means on the 0/1 bit vectors, binarized. */
  def buildFromVectors(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, niter: Int = 6, seed: Long = 1234L): BinaryIvfIndex = {
    val bitsf = transform(col(vecCol), x => when(x >= 0f, 1f).otherwise(0f))
    val data = df.select(col(idCol).as("id"),
      sign_bits(col(vecCol)).as("code"), bitsf.as("_bits"))
    buildFromPrepared(data, nlist, niter, seed)
  }

  /** Train + add directly from packed binary codes of `nbits` bits —
    * the IndexBinaryIVF entry shape (faiss/IndexBinaryIVF.cpp train:
    * k-means over the bit vectors). */
  def buildFromCodes(df: DataFrame, idCol: String, codeCol: String,
      nbits: Int, nlist: Int, niter: Int = 6, seed: Long = 1234L): BinaryIvfIndex = {
    val data = df.select(col(idCol).as("id"), col(codeCol).as("code"),
      org.apache.spark.sql.graft.shim.col(
        graft.core.UnpackBits(
          org.apache.spark.sql.graft.shim.expr(col(codeCol)), nbits)).as("_bits"))
    buildFromPrepared(data, nlist, niter, seed)
  }

  private def buildFromPrepared(data: DataFrame, nlist: Int, niter: Int,
      seed: Long): BinaryIvfIndex = {
    val model = graft.cluster.KMeans.fit(data.select(col("_bits")), "_bits",
      graft.cluster.KMeans.Params(k = nlist, niter = niter, seed = seed))
    val centroidBits = model.centroids.map(_.map(x => if (x >= 0.5f) 1 else 0))
    val spark = data.sparkSession
    import spark.implicits._
    val centDf = centroidBits.zipWithIndex.toSeq
      .map { case (b, l) => (l, pack(b)) }.toDF("list_no", "ccode")
    // assignment = min Hamming to the binarized centroids (ties on the
    // lower list_no, the TopKHeap convention)
    val assigned = data.select(col("id"), col("code"))
      .crossJoin(broadcast(centDf))
      .select(col("id"), col("code"),
        hamming_dist(col("code"), col("ccode")).cast("double").as("_hd"),
        col("list_no"))
      .groupBy(col("id"), col("code"))
      .agg(topk(col("_hd"), col("list_no").cast("long"), 1, asc = true).as("_tk"))
      .select(col("id"), col("code"), explode(col("_tk")).as("_r"))
      .select(col("id"), col("code"), col("_r.id").cast("int").as("list_no"))
    new BinaryIvfIndex(nlist, centroidBits, assigned)
  }
}
