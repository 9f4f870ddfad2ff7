package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{NearestCentroid, NearestCentroids, TopKAgg}

/** IndexIVFSpectralHash (faiss/IndexIVFSpectralHash.h:31): inverted
  * lists storing nbit-bit binary signatures. Vectors are transformed
  * from dim d to dim nbit (random rotation by default), each
  * coordinate is offset by a trained threshold and cut into intervals
  * of size `period` — half of each interval hashes to a 0 bit, the
  * other half to 1: bit_i = floor((y_i - c_i) * 2/period) & 1
  * (IndexIVFSpectralHash.cpp:146-160 binarize_with_freq). Search ranks
  * candidates in the probed lists by Hamming distance of signatures.
  *
  * Threshold types (IndexIVFSpectralHash.h:42-48): global (c = 0),
  * centroid (c = rotated list centroid), centroid_half (the rotated
  * list centroid shifted by -period/4 — "central interval around
  * centroid", IndexIVFSpectralHash.cpp:86-90), median (per-(list, bit)
  * PLAIN median of the training coordinates, no shift,
  * IndexIVFSpectralHash.cpp:127-140).
  *
  * Spark shape: signatures are one BIGINT column (nbit <= 64) in a
  * list_no-keyed table; search is the shared IVF scan ([[Probes.scan]])
  * + XOR/popcount — at scale the scan reads 8 bytes/vector in
  * nprobe/nlist of the data.
  */
class IvfSpectralHashIndex(
    val nlist: Int,
    val nbit: Int,
    val period: Double,
    val centroids: Array[Array[Float]],
    /** d -> nbit rotation (rows of an orthonormal matrix) */
    val vt: graft.transform.Linear,
    /** nlist x nbit per-list bit thresholds (zeros for Thresh_global) */
    val thresholds: Array[Array[Float]],
    /** (id, list_no, sig) */
    val codes: DataFrame) {

  import IvfSpectralHash.signature

  /** Per-instance id for the executor-side graph coarse cache. */
  private val graphCacheKey = java.util.UUID.randomUUID().toString

  /** Hamming top-k over the nprobe nearest lists. `coarse` swaps the
    * exact centroid argmin for a graph/PQ coarse quantizer (the
    * `IVF<n>_{HNSW,NSG}<m>,SH...` factory compositions). */
  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec",
      coarse: Option[Probes.CoarseQuant] = None): DataFrame = {
    // probe selection on the ORIGINAL d-dim vector (coarse quantizer
    // runs before the hash transform, IndexIVF::search_preassigned)
    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    val probes = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .select(col(queryId), col("list_no"),
        signature(vt.applyCol(col(queryVec)), Probes.centroid(col("list_no"), thresholds),
          nbit, period).as("_qsig"))
    val cand = Probes.scan(codes, probes, Some(probed))
      .select(col(queryId), col("id"),
        bit_count(col("sig").bitwiseXOR(col("_qsig"))).cast("double").as("_hd"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_hd"), col("id"), k, asc = true)
      .select(col(queryId), col("rank"), col("id"), col("dist").cast("long").as("hamming"))
  }
}

object IvfSpectralHash {

  /** bit_i = floor((y_i - c_i) * 2/period) & 1, packed little-endian
    * (bit i at position i — codes[i>>3] |= bit << (i&7),
    * IndexIVFSpectralHash.cpp:153-158) into one BIGINT. */
  def signature(y: Column, c: Column, nbit: Int, period: Double): Column =
    shim.col(graft.core.SpectralBits(shim.expr(y), shim.expr(c), nbit, 2.0 / period))

  /** Train coarse k-means + rotation + thresholds, encode all rows. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, nbit: Int, period: Double,
      thresholdType: String = "median",
      niter: Int = 5, seed: Long = 1234L,
      /** caller-supplied d -> nbit transform (the factory's
        * `(ITQ|PCA|PCAR)<b>,SH...` replace_vt form,
        * index_factory.cpp:398-414); null = the default seeded
        * random-rotation rows. */
      vt0: graft.transform.Linear = null): IvfSpectralHashIndex = {
    require(nbit >= 1 && nbit <= 64, "nbit must fit one BIGINT signature")
    val s = df.sparkSession
    import s.implicits._
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val d = vecs.select(size(col("vec"))).first().getInt(0)
    require(nbit <= d, s"nbit=$nbit > d=$d (rotation selects nbit rows)")
    val km = graft.cluster.KMeans.fit(vecs, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niter, seed = seed))
    // d -> nbit transform: caller-supplied (ITQ/PCA/PCAR replace_vt)
    // or the first nbit rows of a seeded orthonormal rotation (the
    // reference's default RandomRotationMatrix(d, nbit))
    val vt = if (vt0 != null) {
      require(vt0.a.length == nbit, s"vt0 has ${vt0.a.length} rows, nbit=$nbit")
      vt0
    } else graft.transform.Linear(
      graft.transform.Transforms.randomRotation(d, seed).a.take(nbit))

    val assigned = vecs
      .withColumn("_a", shim.col(NearestCentroid(shim.expr(col("vec")), km.centroids)))
      .select(col("id"), col("vec"), col("_a.list_no").as("list_no"),
        vt.applyCol(col("vec")).as("_y"))

    val thresholds: Array[Array[Float]] = thresholdType match {
      case "global" => Array.fill(nlist)(new Array[Float](nbit))
      case "centroid" | "centroid_half" =>
        // transformed centroid per list (Thresh_centroid) — the affine
        // bias matters when vt is a replaced PCA (mean-centering).
        // Thresh_centroid_half (IndexIVFSpectralHash.h:45) subtracts
        // period/4 so the centroid sits mid-interval; the reference
        // shifts the FLOAT-rounded transform output in double and
        // stores back as float (.cpp:86-90 `trained[i] -= 0.25*period`
        // over vt->apply's float array), replayed bit for bit here.
        val shift = if (thresholdType == "centroid_half") 0.25 * period else 0.0
        km.centroids.map { cRow =>
          Array.tabulate(nbit) { j =>
            var acc = if (vt.b != null) vt.b(j).toDouble else 0.0
            var i = 0
            while (i < d) { acc += vt.a(j)(i).toDouble * cRow(i).toDouble; i += 1 }
            (acc.toFloat.toDouble - shift).toFloat
          }
        }
      case "median" =>
        // per-(list, bit) PLAIN median of the transformed training
        // coordinates (Thresh_median, IndexIVFSpectralHash.cpp:127-140
        // — the -period/4 shift belongs to Thresh_centroid_half, a
        // mode the factory grammar cannot spell; an earlier round
        // applied it here, review r13 removed it)
        val med = assigned
          .select(col("list_no"), posexplode(col("_y")).as(Seq("_b", "_v")))
          .groupBy(col("list_no"), col("_b"))
          .agg(expr("percentile(_v, 0.5)").as("_m"))
          .collect()
        val out = Array.fill(nlist)(new Array[Float](nbit))
        med.foreach { r =>
          out(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
        }
        out
      case t => throw new IllegalArgumentException(s"threshold type $t")
    }

    val threshDf = thresholds.zipWithIndex.toSeq
      .map { case (t, l) => (l, t.toSeq) }.toDF("list_no", "_th")
      .select(col("list_no"), col("_th").cast("array<float>").as("_th"))
    val codes = assigned.join(broadcast(threshDf), "list_no")
      .select(col("id"), col("list_no"),
        signature(col("_y"), col("_th"), nbit, period).as("sig"))
    new IvfSpectralHashIndex(nlist, nbit, period, km.centroids, vt,
      thresholds, codes)
  }
}
