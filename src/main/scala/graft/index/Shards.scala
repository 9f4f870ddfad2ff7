package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.TopKAgg

/** IndexShards (faiss/IndexShards.h:27): one logical index over a set
  * of independently-built shards — search runs every shard and merges
  * the per-query candidate streams into one top-k. The reference
  * threads shards through a WorkerThread pool and a heap merge; here
  * each shard's search is already a distributed plan, so the merge is
  * a union + one more top-k aggregate — the same shape the TopK
  * partial/merge pair gives every single index, one level up.
  *
  * Shards own their ids (the add_with_ids / successive_ids = false
  * regime — our engine's id-as-column convention makes the id-shift
  * variant a caller-side projection). Expects the standard
  * (qid, rank, id, dist)-ascending search contract.
  */
object Shards {

  /** `idOffsets` = the successive_ids regime (IndexShards.h:31): when
    * shards were built over locally-numbered rows (each starting at
    * 0), shard i's result ids are shifted by offsets(i) — the
    * cumulative sizes of the shards before it — so the merged result
    * lives in one contiguous id space, exactly what the reference's
    * add-time renumbering produces. Omitted = add_with_ids regime
    * (shards own globally-unique ids). */
  def search(shards: Seq[IndexFactory.Built], queries: DataFrame,
      k: Int, nprobe: Int = 1,
      queryId: String = "qid", queryVec: String = "qvec",
      idOffsets: Option[Seq[Long]] = None): DataFrame = {
    require(shards.nonEmpty, "no shards")
    idOffsets.foreach(o => require(o.length == shards.length,
      s"idOffsets has ${o.length} entries for ${shards.length} shards"))
    val cand = shards.zipWithIndex.map { case (sh, i) =>
        val r = sh.search(queries, k, nprobe, queryId, queryVec)
        val id = idOffsets match {
          case Some(off) => (col("id") + off(i)).as("id")
          case None => col("id")
        }
        r.select(col(queryId), id, col("dist"))
      }
      .reduce(_ unionByName _)
    TopKAgg.ranked(cand, Seq(col(queryId)), col("dist"), col("id"), k, asc = true)
  }
}
