package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.TopKAgg
import graft.functions.{hamming_dist, jaccard_dist}

/** Binary flat index (IndexBinaryFlat, faiss/IndexBinaryFlat.h:20):
  * packed-bit codes in a BinaryType column, exhaustively searched
  * under Hamming (hammings_knn_hc, faiss/utils/hamming.h:129) or
  * binary Jaccard (faiss/utils/binary_distances.h). Same broadcast +
  * partial-top-k shape as the float path. */
object BinaryFlat {

  /** The ranked tail of the Hamming searches over `cand`'s
    * (queryId, baseId, _d: double): (queryId, rank, baseId, hd: long). */
  private[index] def rankedHd(cand: DataFrame, k: Int, queryId: String,
      baseId: String): DataFrame =
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_d"), col(baseId), k, asc = true)
      .select(col(queryId), col("rank"), col("id").as(baseId),
        col("dist").cast("long").as("hd"))

  /** kNN under Hamming distance. Output (qid, rank, id, hd). */
  def knnJoin(queries: DataFrame, base: DataFrame, k: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      baseId: String = "id", baseCode: String = "code"): DataFrame =
    rankedHd(base.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId),
        hamming_dist(col(queryCode), col(baseCode)).cast("double").as("_d")),
      k, queryId, baseId)

  /** kNN under binary Jaccard distance. Output (qid, rank, id, jd). */
  def knnJoinJaccard(queries: DataFrame, base: DataFrame, k: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      baseId: String = "id", baseCode: String = "code"): DataFrame = {
    val cand = base.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId),
        jaccard_dist(col(queryCode), col(baseCode)).as("_d"))
    TopKAgg.ranked(cand, Seq(col(queryId)), col("_d"), col(baseId), k, asc = true)
      .select(col(queryId), col("rank"), col("id").as(baseId), col("dist").as("jd"))
  }

  /** Hash-bucketed Hamming kNN (IndexBinaryHash,
    * faiss/IndexBinaryHash.h:26: codes bucketed by a bit-prefix; a
    * query scans only its bucket). `queries` carries (qid, qcode,
    * bucket) and `base` (id, code, bucket); candidate generation is an
    * equi-join on the bucket — the binary analog of IVF pruning, and
    * the 100 TB path for binary codes. */
  def hashSearch(queries: DataFrame, base: DataFrame, k: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      baseId: String = "id", baseCode: String = "code",
      bucket: String = "bucket"): DataFrame =
    rankedHd(base.join(broadcast(queries), bucket)
      .select(col(queryId), col(baseId),
        hamming_dist(col(queryCode), col(baseCode)).cast("double").as("_d")),
      k, queryId, baseId)

  /** Multi-hash bucketed Hamming kNN (IndexBinaryMultiHash,
    * faiss/IndexBinaryHash.h:83): `nhash` independent tables, table t
    * keyed on the disjoint bit range [t*b, (t+1)*b) of the code. A
    * query probes its bucket in EVERY table; candidates are the
    * deduplicated union — recall grows with nhash (a neighbor is found
    * unless it differs in all n key ranges) while each table stays as
    * selective as a single-table BHash<b>. Dataflow: the base is
    * exploded nhash× into (table, key) rows and equi-joined against
    * the broadcast queries — the same key-bucketed shuffle shape as
    * the MinHash LSH band join, no cross join at any scale. */
  def multiHashSearch(queries: DataFrame, base: DataFrame, k: Int,
      nhash: Int, b: Int,
      queryId: String = "qid", queryCode: String = "qcode",
      baseId: String = "id", baseCode: String = "code"): DataFrame = {
    import org.apache.spark.sql.graft.shim
    def keys(c: org.apache.spark.sql.Column) = explode(array(
      (0 until nhash).map(t => struct(lit(t).as("t"),
        shim.col(graft.core.BitSlice(shim.expr(c), t * b, b)).as("key"))): _*))
    val bk = base
      .select(col(baseId), col(baseCode), keys(col(baseCode)).as("_tk"))
      .select(col(baseId), col(baseCode), col("_tk.t").as("_t"), col("_tk.key").as("_key"))
    val qk = queries
      .select(col(queryId), col(queryCode), keys(col(queryCode)).as("_tk"))
      .select(col(queryId), col(queryCode), col("_tk.t").as("_t"), col("_tk.key").as("_key"))
    rankedHd(bk.join(broadcast(qk), Seq("_t", "_key"))
      .select(col(queryId), col(baseId),
        hamming_dist(col(queryCode), col(baseCode)).cast("double").as("_d"))
      // dedup the union across tables (a pair can collide in several)
      .groupBy(col(queryId), col(baseId))
      .agg(min(col("_d")).as("_d")), k, queryId, baseId)
  }

  /** Bit-prefix bucket key of the first `b` bits of a packed code —
    * the IndexBinaryHash hash (faiss/IndexBinaryHash.cpp:30
    * binary_hash: the low b bits). One expression, reused by build,
    * query and reload sides so they can never disagree. */
  def bucketCol(code: org.apache.spark.sql.Column, b: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.shim
    shim.col(graft.core.BitSlice(shim.expr(code), 0, b))
  }

  /** Hamming range search (hamming_range_search, hamming.h:175). */
  def rangeJoin(queries: DataFrame, base: DataFrame, maxHamming: Long,
      queryId: String = "qid", queryCode: String = "qcode",
      baseId: String = "id", baseCode: String = "code"): DataFrame =
    base.crossJoin(broadcast(queries))
      .select(col(queryId), col(baseId),
        hamming_dist(col(queryCode), col(baseCode)).as("hd"))
      .filter(col("hd") <= maxHamming)
}

/** Persistable IndexBinaryHash state (faiss/IndexBinaryHash.h:26;
  * write_index_binary serializes b + the bucketed map,
  * index_write.cpp): the bucket width and the codes table carrying the
  * derived bucket key. Buckets come from [[BinaryFlat.bucketCol]] on
  * BOTH sides, so a reloaded index and fresh queries can never
  * disagree on the keying. */
class BinaryHashIndex(val b: Int,
    /** (id, code binary, bucket long) */
    val codes: DataFrame) {
  def search(queries: DataFrame, k: Int,
      queryId: String = "qid", queryCode: String = "qcode"): DataFrame =
    BinaryFlat.hashSearch(
      queries.withColumn("bucket", BinaryFlat.bucketCol(col(queryCode), b)),
      codes, k, queryId = queryId, queryCode = queryCode)
}

object BinaryHashIndex {
  def build(codes: DataFrame, b: Int,
      idCol: String = "id", codeCol: String = "code"): BinaryHashIndex =
    new BinaryHashIndex(b, codes.select(col(idCol).as("id"),
      col(codeCol).as("code"),
      BinaryFlat.bucketCol(col(codeCol), b).as("bucket")))
}

/** Persistable IndexBinaryMultiHash state (faiss/IndexBinaryHash.h:83:
  * nhash tables, table t keyed on bit range [t*b, (t+1)*b)). The keys
  * are derived from the code inside the search join
  * ([[BinaryFlat.multiHashSearch]]), so the stored state is just the
  * parameters and the flat codes. */
class BinaryMultiHashIndex(val nhash: Int, val b: Int,
    /** (id, code binary) */
    val codes: DataFrame) {
  def search(queries: DataFrame, k: Int,
      queryId: String = "qid", queryCode: String = "qcode"): DataFrame =
    BinaryFlat.multiHashSearch(queries, codes, k, nhash, b,
      queryId = queryId, queryCode = queryCode)
}
