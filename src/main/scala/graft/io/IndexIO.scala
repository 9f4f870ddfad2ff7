package graft.io

import scala.reflect.{ClassTag, classTag}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.index._

/** read_index/write_index analogs (faiss/index_io.h:38-71,
  * faiss/impl/index_write.cpp / index_read.cpp) for every persistable
  * family, driven by the codec table [[IndexCodecs.all]]: each family
  * declares its parquet frames and its trained-state sidecars (JSON
  * datasets written on the driver by [[JsonSidecar]]) once, and
  * [[save]], [[load]], [[loadAs]] and [[reverseFactory]] work from that
  * declaration. `<path>/kind` holds the family tag (the fourcc analog);
  * a save removes it first and stamps it last.
  *
  * Layout per kind: frames, then sidecars. `(list_no)` marks a frame
  * clustered on that column (`cell`, `bucket` likewise): hash-shuffled
  * on it, so each list sits in one file, and written as files sorted
  * by it. A frame is read with the schema in a data file's parquet
  * footer, read on the driver, so opening it runs no Spark job.
  * {{{
  * ivfflat    invlists (list_no)      meta = centroids + d, metric, nlist
  * sq         codes                   meta = SQ range; qtype
  * pq         codes                   meta = PQ codebooks
  * ivfpq      codes (list_no)         centroids; codebooks = PQ
  * twolayer   codes                   centroids; codebooks = PQ
  * bivf       invlists (list_no)      meta = centroid bits + nlist
  * imi        invlists (cell)         meta = PQ (the 2 half-space codebooks)
  * imipq      codes (cell)            coarse = PQ; codebooks = PQ
  * miq2layer  codes                   coarse = PQ; codebooks = PQ
  * ivfsh      codes (list_no)         centroids + nlist, nbit, period; thresholds; vt = transform
  * pq4fs      codes                   meta = PQ codebooks
  * ivfpq4fs   codes (list_no)         centroids; codebooks = PQ
  * ivfpq4fsr  codes (list_no)         centroids; codebooks = PQ
  * rq4fs      codes                   codebooks = RQ; normcb; meta = norm_scale
  * ivfrq4fs   codes (list_no)         centroids; codebooks = RQ; normcb; meta = by_residual false
  * ivfrq4fsr  codes (list_no)         centroids; codebooks = RQ; normcb; meta = by_residual true
  * ivfsq      codes (list_no)         centroids; range = SQ range; meta = qtype, by_residual
  * ivfrq      codes (list_no)         centroids; codebooks = RQ
  * ivfrqnorm  codes (list_no)         centroids; codebooks = RQ; meta = nonorm
  * bflat      codes                   meta = code_size
  * bhash      codes (bucket)          meta = b
  * bmultihash codes                   meta = nhash, b
  * lsh        codes                   rot = transform?; thresholds?; meta = rotate_data, train_thresholds
  * lattice    codes                   meta = per-subvector range + d, nsq, scale_nbit, r2
  * minmax     codes                   meta = inner, fp16_coeffs; range = SQ range?; codebooks = PQ?
  * refineflat base                    inner = a saved sq index; meta = k_factor, metric
  * }}}
  * `?` marks a sidecar written only when the index holds that state.
  * IVF and IMI searches filter the scan to their probed lists (`cell`
  * for imi/imipq) with [[graft.index.Probes.listFilter]] where the
  * store has more than one split or more than one page of that column
  * ([[graft.index.Probes.pruned]]). Spark pushes it into the parquet
  * scan, which skips every row group and page that holds no probed
  * list: sorted files keep each list's pages together. A one-split,
  * one-page store gets no filter, as parquet could skip nothing there;
  * the probe lookup drops its unprobed lists. The scan still plans
  * every split of the store and reads its footer.
  * A binary-hash search joins on `bucket` and pushes no filter, so it
  * reads the whole store. A store saved in the older layout, one
  * `list_no=` directory per list, still loads (the filter prunes its
  * directories) and re-saves in this one.
  *
  * Graph-shard policy (the HNSW/NSG/NNDescent partition shards,
  * [[graft.knn.PartitionedHnsw]]/[[graft.knn.PartitionedNsg]]): the
  * per-partition graphs are NOT persisted. They are ephemeral
  * physical accelerators built inside mapPartitions over whatever
  * partitioning the stored table has — the persistable state is the
  * stored table itself (raw vectors, or SQ/PQ codes + their trained
  * codec, each with its own codec here). The reference serializes
  * its graph because a single-node graph build is the expensive step
  * it cannot parallelize (index_write.cpp write_HNSW); here the
  * rebuild is an embarrassingly parallel per-partition pass over
  * executor-sized shards, and pinning serialized adjacency to a
  * particular partitioning would FORBID the repartitioning that a
  * 1000-executor reload wants. Reloaded searches carry the same
  * approximate-recall contract as a re-built graph — identical to the
  * reference's own contract for add-after-load.
  *
  * Autotune OperatingPoints are in-memory only, exactly as in the
  * reference (AutoTune.h keeps no serializer) — n/a by design.
  */
object IndexIO {

  /** write_index: persist any family's index (a bare codes DataFrame is
    * a binary flat index). */
  def save(index: Any, path: String): Unit =
    IndexCodecs.byClass(index.getClass).asInstanceOf[Codec[Any]].write(index, path)

  /** Kept as a named entry point: `vecbench` calls it by name. */
  def saveIvfPq(idx: IvfPqIndex, path: String): Unit = save(idx, path)

  /** The stored family tag of a saved index. */
  def loadKind(spark: SparkSession, path: String): String =
    try JsonSidecar.read(spark, s"$path/kind").select(col("kind")).first().getString(0)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalArgumentException(
        s"$path has no kind tag — not a saved index (or pre-r16 layout); " +
          s"use IndexIO.loadAs with the family's type", e)
    }

  private def codecOf(spark: SparkSession, path: String): Codec[_] = {
    val kind = loadKind(spark, path)
    IndexCodecs.byKind(kind).getOrElse(
      throw new IllegalArgumentException(s"$path: unknown index kind '$kind'"))
  }

  /** read_index dispatch (faiss/index_io.h:38 — open ANY saved index
    * without being told its family). Returns the family's own index
    * type; pattern-match, or pass to [[reverseFactory]]. */
  def load(spark: SparkSession, path: String): Any = codecOf(spark, path).read(spark, path)

  /** Typed load: the stored kind tag must be T's; a directory without
    * one (the pre-r16 layout) is read with T's codec. */
  def loadAs[T: ClassTag](spark: SparkSession, path: String): T = {
    val want = IndexCodecs.byClass(classTag[T].runtimeClass)
    val (fs, tag) = JsonSidecar.hadoopFs(spark, s"$path/kind")
    if (fs.exists(tag)) {
      val kind = loadKind(spark, path)
      require(kind == want.kind, s"$path holds a '$kind' index, not '${want.kind}'")
    }
    want.read(spark, path).asInstanceOf[T]
  }

  /** reverse_index_factory over a PERSISTED index
    * (contrib/factory_tools.py:76 applied to a read_index result):
    * load the saved state and derive the canonical factory string.
    * Families whose trained state deliberately bakes a spelling
    * distinction (decoded stored norms, trained per-list thresholds)
    * refuse with an explanation — see
    * [[graft.index.IndexFactory.reverseIndexFactory]]. */
  def reverseFactory(spark: SparkSession, path: String): String =
    codecOf(spark, path) match {
      case c if c.kind == "bflat" => "BFlat" // a bare codes table, no structure to walk
      case c => IndexFactory.reverseIndexFactory(c.read(spark, path))
    }
}
