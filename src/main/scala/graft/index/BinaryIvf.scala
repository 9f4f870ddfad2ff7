package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{NearestCentroid, UnpackBits}
import graft.functions.{hamming_dist, sign_bits}

/** Binary IVF index (faiss/IndexBinaryIVF.h:33): inverted lists of
  * packed binary codes, a binary coarse quantizer, Hamming-pruned
  * search. Composes the shared IVF scan ([[Probes.scan]]) with the
  * Hamming kernels of [[BinaryFlat]].
  *
  * Training follows the reference's recipe (IndexBinaryIVF::train →
  * float k-means over the bits, then binarize the centroids): k-means
  * runs on the codes unpacked to 0/1 floats and each centroid is
  * binarized by thresholding at 0.5 — so the coarse quantizer is
  * itself a binary code table, and assignment and probe selection rank
  * the lists by Hamming distance (squared L2 over the 0/1 bits;
  * deterministic, ties on the lower list_no).
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

  /** The probe step shared by [[search]] and [[rangeSearch]], the one
    * of every IVF family ([[Probes.local]]): Hamming on packed codes
    * equals squared L2 on the 0/1-unpacked bits (each mismatching bit
    * contributes exactly 1, the IndexBinaryFromFloat identity), so the
    * float selector over the unpacked centroids ranks the lists by
    * Hamming distance, ties on the lower list_no. `hnswCoarse =
    * Some(efSearch)` walks a per-executor HNSW graph over them instead
    * — the reference's `BIVF<n>_HNSW<m>` coarse grammar
    * (index_factory.cpp:895-900, IndexBinaryHNSW as quantizer);
    * efSearch >= nlist degenerates to the exact ranking. A code whose
    * byte length is not the index's is rejected. Output the probe rows
    * (queryId, queryCode, list_no) and the probed lists. */
  private def probes(queries: DataFrame, nprobe: Int,
      queryId: String, queryCode: String,
      hnswCoarse: Option[Int], hnswM: Int): (DataFrame, Array[Int]) = {
    val nbits = centroidBits.head.length
    val qbits = shim.col(UnpackBits(shim.expr(col(queryCode)), nbits))
    val sel = Probes.selExpr(qbits, centroidBits.map(_.map(_.toFloat)), nprobe, "l2sq",
      hnswCoarse.map(Probes.HnswCoarse(_, hnswM)), hnswCacheKey)
    val (q, probed) = Probes.local(queries.select(col(queryId), col(queryCode)),
      queryCode, sel, (nbits + 7) / 8)
    (Probes.rows(q, Seq(col(queryId), col(queryCode))), probed)
  }

  /** Hamming kNN over the nprobe closest lists. Output
    * (qid, rank, id, hd). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      hnswCoarse: Option[Int] = None, hnswM: Int = 16): DataFrame = {
    val (pr, probed) = probes(queries, nprobe, queryId, queryCode, hnswCoarse, hnswM)
    BinaryFlat.rankedHd(
      Probes.scan(invlists, pr, Some(probed))
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
    val (pr, probed) = probes(queries, nprobe, queryId, queryCode, hnswCoarse, hnswM)
    Probes.scan(invlists, pr, Some(probed))
      .select(col(queryId), col("id"),
        hamming_dist(col(queryCode), col("code")).as("hd"))
      .filter(col("hd") <= maxHamming)
  }
}

object BinaryIvfIndex {

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
      shim.col(UnpackBits(shim.expr(col(codeCol)), nbits)).as("_bits"))
    buildFromPrepared(data, nlist, niter, seed)
  }

  private def buildFromPrepared(data: DataFrame, nlist: Int, niter: Int,
      seed: Long): BinaryIvfIndex = {
    val model = graft.cluster.KMeans.fit(data.select(col("_bits")), "_bits",
      graft.cluster.KMeans.Params(k = nlist, niter = niter, seed = seed))
    val centroidBits = model.centroids.map(_.map(x => if (x >= 0.5f) 1 else 0))
    // assignment = the nearest binarized centroid over the 0/1 bits,
    // squared L2 = Hamming (ties on the lower list_no)
    val assigned = data
      .withColumn("_a", shim.col(NearestCentroid(shim.expr(col("_bits")),
        centroidBits.map(_.map(_.toFloat)), "l2sq")))
      .select(col("id"), col("code"), col("_a.list_no").as("list_no"))
    new BinaryIvfIndex(nlist, centroidBits, assigned)
  }
}
