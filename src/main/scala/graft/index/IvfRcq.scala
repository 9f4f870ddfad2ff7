package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core.{RcqTopLists, TopKAgg}
import graft.functions.l2sq

/** IVF whose coarse quantizer is a ResidualCoarseQuantizer
  * (faiss/IndexAdditiveQuantizer.h:193; factory grammar
  * `IVF<nlist>(RCQ<levels>x<bits>),Flat`, index_factory.cpp:241-291):
  * the nlist = k^levels coarse centroids are the sums of one codeword
  * per RQ level and are NEVER materialized — assignment and probe
  * selection run the RQ beam search ([[graft.core.RqKernels.beamFinal]],
  * ResidualCoarseQuantizer::search refine_beam) at L·beam·k·d cost per
  * vector instead of nlist·d. That is the point of RCQ: a million-list
  * IVF whose quantizer costs 2·1024·d, not 10^6·d, per assignment.
  *
  * Storage is Flat (the invlists hold raw vectors); search is the
  * shared IVF scan ([[Probes.scan]]) — the beam search runs on the driver
  * over the collected queries ([[Probes.local]]) and its probed lists
  * statically prune the scan, probe rows broadcast,
  * exact distance over the probed lists, partial+merge top-k.
  *
  * With `beam` >= nlist the beam search enumerates every path, so
  * assignment and probing degenerate to the EXACT argmin over the
  * enumerated codeword sums — the oracle contract used by
  * `ivf_rcq_search` (VERDICT r8 #4).
  */
class IvfRcqFlatIndex(
    val model: RqModel,
    /** beam width used at assignment (add) time. */
    val beam: Int,
    /** (id, list_no, vec) — Flat storage grouped by virtual list. */
    val invlists: DataFrame) {

  def nlist: Int = math.round(math.pow(model.k, model.levels)).toInt

  /** Release the cached invlists. build() caches them (add-time
    * work); an index discarded without close() pins that storage
    * until session end (the IvfPq4FastScanRIndex.close contract). */
  def close(): Unit = invlists.unpersist(blocking = false)

  def search(queries: DataFrame, k: Int, nprobe: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    // probe beam: the reference's beam_factor (default 4x nprobe,
    // ResidualCoarseQuantizer.h beam_factor) capped at full enumeration
    val probeBeam = math.min(nlist, math.max(beam, 4 * nprobe))
    val (q, probed) = Probes.local(queries.select(col(queryId), col(queryVec)),
      queryVec, shim.col(RcqTopLists(shim.expr(col(queryVec)),
        model.codebooks, probeBeam, math.min(nprobe, nlist))),
      model.codebooks.head.head.length)
    val cand = Probes.scan(invlists, Probes.rows(q, Seq(col(queryId), col(queryVec))),
        Some(probed))
      .select(col(queryId), col("id"), l2sq(col(queryVec), col("vec")).as("_d"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_d"), col("id"), k, asc = true)
  }
}

object IvfRcq {

  /** Train the RCQ (RQ codebooks over the raw vectors) and assign every
    * row to its virtual list via the beam search. `beam` >= k^levels
    * makes the assignment exact. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      levels: Int = 2, bits: Int = 2, beam: Int = 4,
      niter: Int = 6, seed: Long = 1234L): IvfRcqFlatIndex = {
    val k = 1 << bits
    val data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val model = Rq.train(data.select(col("vec")), "vec", levels, k,
      niter = niter, seed = seed, beam = beam)
    val invlists = data.select(col("id"),
      element_at(shim.col(RcqTopLists(shim.expr(col("vec")),
        model.codebooks, beam, 1)), 1).getField("list_no").as("list_no"),
      col("vec"))
      .cache()
    invlists.count()
    new IvfRcqFlatIndex(model, beam, invlists)
  }
}
